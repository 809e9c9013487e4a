package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupConfig, DedupPipeline}
import graft.DedupPipeline.CorpusStats

/**
 * Incremental signature index (SURVEY §2.1 S3 — the reference's
 * `Index`/`Remove` mutations, `/root/reference/lsh.go:75-80`,
 * `index.go:119-136`, and the `PartialFit` accretion pattern,
 * `randomprojection.go:253-270`): a partitioned Parquet signature table
 * that supports batch insert (append), delete (atomic rewrite), and
 * querying new documents against the existing index without
 * re-signaturing the whole corpus.
 *
 * Corpus stats (idf arrays + hot-shingle drop list) are FITTED ON THE
 * FIRST PUT and persisted alongside the index; every later put and
 * every search reuses them. Signatures are therefore batch-independent:
 * identical text always produces identical band keys, no matter which
 * batch it arrived in — the incremental-search correctness requirement
 * (per-batch stats would silently miss true duplicates whenever the
 * batches' df-conditioned drop lists diverged).
 *
 * Scale shape: an insert touches only the new batch (signatures are
 * per-row); a search restricts the stored side to the band buckets
 * its query batch actually touches, then equi-joins — the reference's
 * sub-linear per-band bucket lookup (union of bucket members,
 * reference `lsh.go:87-108`) re-expressed as Parquet statistics
 * pushdown instead of an in-memory hash map. `pb = band·B + (key mod
 * B)` is a SORT key, not a directory partition: each batch's band rows
 * are plain Parquet files under `bands/batch=<id>/`, sorted by
 * (pb, key), so the search's `pb IN (…)` is a pushed data filter and
 * row-group and page (column-index) min/max statistics skip the pb
 * ranges the query does not touch. A put writes a handful of files
 * however large the pb domain, and a read lists only batch dirs. The
 * IN set is collected on the driver but its DOMAIN is the fixed pb
 * range (bands·bandBuckets ≤ a few thousand), not the corpus, so the
 * collect is constant-bounded at any index size.
 */
class IncrementalIndex(spark: SparkSession, path: String,
                       cfg: DedupConfig = DedupConfig(),
                       autoRefitGrowth: Double = 0.0) {
  import graft.ckpt.Fs

  // signatures live in a shared partitioned-parquet batch store (also
  // used by ForestIndex): per-batch idempotent puts, schema-pinned
  // reads, swap-commit rewrites — all metadata through the Hadoop FS
  // resolved from the index path, so the index works on HDFS/S3-
  // compatible stores, not just the local filesystem
  private val store = new graft.ckpt.BatchStore(spark, s"$path/sigs")
  // band-exploded serving rows (pb, key, doc_id), sorted by bandOrder
  // inside each file of a batch dir — the searchable layout. Kept NEXT
  // TO the signature store (not instead of it): verification needs
  // shingles, and a remove rewrites both.
  private val bandStore = new graft.ckpt.BatchStore(spark, s"$path/bands")
  private val bandOrder = Seq("pb", "key")
  private val hconf = spark.sparkContext.hadoopConfiguration

  /** Band-bucket id (the band files' sort key) of a band row: band·B +
    * (key mod B). Encodes the band exactly (bucket < B), so (pb, key)
    * equality ⇔ (band, key) equality. */
  private def pbCol(band: org.apache.spark.sql.Column,
                    key: org.apache.spark.sql.Column) =
    (band.cast("int") * cfg.bandBuckets +
      pmod(key, lit(cfg.bandBuckets.toLong)).cast("int")).cast("int")

  private def statsPath = s"$path/stats"
  // pending-refit marker: newly fitted stats land here FIRST; they are
  // swapped into statsPath only after every batch has been
  // re-signatured, so a crash mid-refit is always recoverable from the
  // marker (see ensureRefitComplete)
  private def statsNextPath = s"$path/stats.refit"

  def isEmpty: Boolean = store.isEmpty

  private def loadStatsFrom(p: String): Option[CorpusStats] =
    if (!Fs.exists(p, hconf)) None
    else {
      val r = spark.read.parquet(p).head()
      Some(CorpusStats(r.getLong(0),
        r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray,
        r.getSeq[Long](3).toArray))
    }

  // stats memo keyed by the stats dir's FS stamp (mirrors IvfIndex's
  // bookMemo): every put paid two parquet read+collect jobs (the
  // signature fit lookup + the growth check) for a file that only
  // changes on refit. The stamp re-read is FS metadata only (no Spark
  // job); an in-process refit invalidates explicitly, a cross-process
  // refit is picked up by the stamp change (same ~1 s granularity
  // caveat as the search snapshot validation below).
  private var statsMemo: Option[(Long, CorpusStats)] = None

  private def loadStats(): Option[CorpusStats] =
    Fs.modifiedMs(statsPath, hconf) match {
      case None => statsMemo = None; None
      case Some(st) => statsMemo match {
        case Some((s, c)) if s == st => Some(c)
        case _ => loadStatsFrom(statsPath).map { c =>
          statsMemo = Some((st, c)); c
        }
      }
    }

  private def saveStatsTo(p: String, st: CorpusStats): Unit = {
    import spark.implicits._
    Seq((st.n, st.idfTerms.toSeq, st.idfVals.toSeq, st.hotShingles.toSeq))
      .toDF("n", "idf_terms", "idf_vals", "hot_shingles")
      .write.mode("overwrite").parquet(p)
  }

  /** Signature a batch of pages (url, text) with the PERSISTED corpus
    * stats (fitted and saved on the first call). The hashed-tf column
    * is kept in the stored rows so [[refit]] can re-signature every
    * batch without the raw text. Null caller ids are normalised to a
    * null derived id for EVERY path, and every path then fails LOUDLY
    * on them: the put paths via the unified [[resolveCrossBatchIds]]
    * audit (stored identities must be unambiguous), the search path
    * via a per-row raise at query materialization (a null qid never
    * equi-joins, so the row would otherwise silently match nothing).
    * A caller ALIASING one id across distinct query pages merges those
    * pages' result sets — the per-(qid, match) dedup keeps one row, so
    * give distinct pages distinct ids. */
  private def signatures(pages: DataFrame): DataFrame = {
    val ext0 = DedupPipeline.extract(pages, cfg)
    // collision RESOLUTION for the put paths lives in
    // [[resolveCrossBatchIds]], which sees the batch AND the store
    // in one loop — the batch-LOCAL audit would re-id a stored
    // incumbent's own re-put whenever a stranger collides with it in
    // the same batch, splitting one identity across two stored ids
    // null url ⇒ null derived id, NOT xxhash64(null): the null-skipping
    // hash folds every null-url row onto one shared doc_id (the seed)
    // that the audit is structurally blind to — identity-less rows are
    // instead flagged loudly in [[resolveCrossBatchIds]] (same contract
    // as DedupPipeline.resolveIdCollisions)
    val ext = ext0.withColumn("doc_id",
      coalesce(col("doc_id"),
        when(col("url").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("url")))))
    val tfd = DedupPipeline.withTf(ext, cfg)
    val stats = loadStats().getOrElse {
      // first-fit check + publish runs UNDER the store's writer lease
      // (double-checked): two concurrent first puts would otherwise
      // each fit, and the later publish would overwrite the earlier
      // stats while the earlier writer's rows — signed under its own
      // fit — still commit, leaving persisted stats inconsistent with
      // stored signatures. The loser of the lease fails loudly (the
      // single-writer contract) instead of silently splitting the fit.
      store.withLease {
        loadStats().getOrElse {
          val st = DedupPipeline.fitCorpusStats(tfd, cfg)
          // atomic first-fit publish: a crash mid-parquet-write must not
          // leave a partial stats dir that loadStats would silently read
          // (the store is still empty here, so losing the fit loses
          // nothing — the next put simply re-fits)
          Fs.publishByRename(statsPath, hconf)(saveStatsTo(_, st))
          st
        }
      }
    }
    DedupPipeline.applySignatures(tfd, stats, cfg, keepTf = true)
      .select(col("url"), col("doc_id"), col("minhash"), col("simhash"),
        col("shingles"), col("tf"))
  }

  /** Append a batch to the index (reference `Index(v, id)`). Each put
    * lands in its own `batch=<id>` partition directory; the id is
    * allocated and both halves written under one writer-lease claim on
    * the signature store. Ids are audited against the stored index
    * first: a cross-batch doc_id collision would silently alias two
    * documents in every later search. */
  def put(pages: DataFrame): Unit = {
    // an empty put is a no-op — and MUST short-circuit before
    // signatures(): a first put with zero rows would otherwise fit and
    // permanently publish degenerate corpus stats (n = 0, empty idf),
    // signing every later document with all-zero weights
    if (pages.isEmpty) return
    ensureClean()
    reconcileBands()
    // pin the signatures BEFORE the audit: the audit's count actions
    // and the final persisted write are otherwise separate
    // re-evaluations of the caller's frame, so a nondeterministic
    // source (sample, unordered limit) could store colliding
    // identities the audit verified as clean — the same hazard
    // search() pins its query frame against
    val raw = signatures(pages).localCheckpoint(true)
    try {
      val sigs = resolveCrossBatchIds(raw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        store.append(sigs, writeBands(sigs, _))
        ()
      } finally { sigs.unpersist(); () }
    } finally graft.ckpt.Checkpoints.free(raw)
    maybeAutoRefit()
  }

  /** Growth-triggered [[refit]] (constructor knob `autoRefitGrowth`
    * > 1): when the stored corpus has grown past `autoRefitGrowth` ×
    * the doc count the persisted stats were fitted on, the first-put
    * stats are presumed drifted (stale idf, unconditioned boilerplate)
    * and a refit runs as part of the put. Cost: one slim count job per
    * put while under the threshold; the refit itself re-signatures all
    * batches — amortised geometrically, like capacity-doubling rehash. */
  // memo for the auto-refit poll: (confirmed distinct-doc count,
  // manifest row count at confirmation). Re-puts of the same identity
  // keep one row per batch, so the manifest row count only UPPER-BOUNDS
  // the distinct docs — triggering refit on it alone would refit an
  // unchanged corpus under a re-put-heavy stream.
  private var confirmedDocs: Option[(Long, Long)] = None

  /** Growth check, cheapest-evidence-first: (1) the manifest row count
    * (one file read, no Spark job) upper-bounds distinct docs; (2) each
    * row added since the last confirmation adds at most one distinct
    * doc, so `d0 + (rows - rows0)` tightens the bound without a job;
    * (3) an exact distinct count runs only when the bound crosses the
    * threshold AND at least `autoRefitGrowth`·n rows have landed since
    * the last confirmation — re-puts grow rows on every put, so
    * without the backoff a re-put stream would pay the count job per
    * put. The stride is denominated in the BOUND's currency (growth×
    * the fit population), NOT a multiple of raw rows: a rows-multiple
    * backoff lets a re-put-heavy prefix (rows ≫ distinct) defer a
    * genuinely-due refit by millions of puts, serving a stale fit for
    * the whole window. The stride is additionally floored at 1% of
    * the confirmed store size: with a TINY fit population over a
    * massively re-put-inflated store (4 ids, 10^9 rows — a corpus
    * compaction would normally collapse), a bare growth·n stride
    * re-arms the full-store count every handful of puts; the floor
    * caps total confirm work at ~100 store scans per store doubling
    * while keeping the detection delay ≤ max(growth·n, 1% of rows)
    * puts. A shrunken row count (remove/compact rewrite) invalidates
    * the memo. */
  private def maybeAutoRefit(): Unit =
    if (autoRefitGrowth > 1.0) loadStats().foreach { st =>
      val rows = store.rowCount()
      confirmedDocs.foreach { case (_, rows0) =>
        if (rows < rows0) confirmedDocs = None
      }
      val needConfirm = confirmedDocs match {
        case Some((d0, rows0)) =>
          d0 + (rows - rows0) >= autoRefitGrowth * st.n &&
            rows >= rows0 +
              math.max(autoRefitGrowth * st.n, rows0 / 100.0)
        case None => rows >= autoRefitGrowth * st.n
      }
      if (needConfirm) {
        val distinct = store.all().select("doc_id").distinct().count()
        if (distinct >= autoRefitGrowth * st.n) {
          refit()
          confirmedDocs = None
        } else confirmedDocs = Some((distinct, rows))
      }
    }

  /** Band rows of signature rows, in the serving layout. `keep` carries
    * extra columns through (the band rewrites keep `batch`). */
  private def bandRows(sigs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import graft.lsh.Lsh
    sigs.select((col("doc_id") +:
        explode(Lsh.minhashBandKeys(col("minhash"), cfg.bands, cfg.rows)).as("bk") +:
        keep.map(col)): _*)
      .select((col("bk.band").as("band") +: col("bk.key").as("key") +:
        col("doc_id") +: keep.map(col)): _*)
      .select((pbCol(col("band"), col("key")).as("pb") +: col("key") +:
        col("doc_id") +: keep.map(col)): _*)
  }

  /** Writes the band rows of `sigs` as band batch `id`, sorted by
    * [[bandOrder]] within each file (the batch write keeps the order
    * of the frame it is given). */
  private def writeBands(sigs: DataFrame, id: Long): Unit =
    bandStore.writeBatch(
      bandRows(sigs).sortWithinPartitions(bandOrder.map(col): _*), id)

  /** Atomic band-store rewrite that keeps [[bandOrder]] in every file. */
  private def rewriteBands(f: DataFrame => DataFrame): Unit =
    bandStore.rewrite(f, sortWithin = bandOrder)

  /** Regenerates the whole band store from the signature store (one
    * swap commit). */
  private def regenerateBands(): Unit =
    rewriteBands(_ => bandRows(store.all(), keep = Seq("batch")))

  /** Idempotent per-batch insert: writing batch `id` twice (streaming
    * replay after a failure — foreachBatch is at-least-once) overwrites
    * the same partition directories instead of duplicating rows. Both
    * halves (signatures + band rows) key on the same batch id. */
  def putBatch(pages: DataFrame, batchId: Long): Unit = {
    // empty micro-batches (checkpoint replay past source retention, a
    // trigger with no data) are no-ops — see put(): an empty FIRST
    // batch must not fit-and-publish degenerate corpus stats
    if (pages.isEmpty) return
    ensureClean()
    reconcileBands()
    // pinned before the audit — see put()
    val raw = signatures(pages).localCheckpoint(true)
    try {
      val sigs = resolveCrossBatchIds(raw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        store.writeBatch(sigs, batchId)
        writeBands(sigs, batchId)
      } finally { sigs.unpersist(); () }
    } finally graft.ckpt.Checkpoints.free(raw)
    maybeAutoRefit()
  }

  /** Reconcile the band layout to the signature store: regenerate the
    * band rows of any stored batch missing from the band store. Covers
    * (a) a crash between a put's two writes — the signature batch
    * landed, its band rows did not; (b) an index written before the
    * band layout existed — one put upgrades it in place; (c) a band
    * store still in the legacy `batch=<id>/pb=<n>/` directory layout —
    * the whole store is regenerated in the sorted layout BEFORE any new
    * batch lands beside it (partition discovery fails on, or drops the
    * pb column of, a tree mixing both layouts). Runs on the MUTATION
    * paths only (it takes the band store's writer lease); [[search]]
    * stays read-only by serving missing batches from band rows computed
    * in-plan instead, and reads a legacy store as it is. Cost when
    * consistent (always, outside those cases): three directory
    * listings, no Spark job. Band rows are DERIVED data (pure function
    * of stored minhashes), so regeneration is idempotent and crash-safe
    * to replay (the rewrite is one swap commit). */
  private def reconcileBands(): Unit = {
    if (store.isEmpty) return
    if (legacyBandLayout) regenerateBands()
    val have = bandStore.batchIds().toSet
    val missing = store.batchIds().filterNot(have)
    if (missing.nonEmpty) {
      val all = store.all()
      missing.foreach(id => writeBands(all.filter(col("batch") === id), id))
    }
  }

  /** Whether the band store still has `pb=<n>` partition directories
    * under its batch dirs. Every band rewrite is one swap commit, so
    * the layout is uniform; batch dirs are probed until one holds data
    * (an empty batch has neither layout's entries) — normally one
    * listing. */
  private def legacyBandLayout: Boolean =
    bandStore.batchIds().iterator
      .map(id => Fs.listNames(s"$path/bands/batch=$id", hconf))
      .find(_.exists(n => n.startsWith("pb=") || n.endsWith(".parquet")))
      .exists(_.exists(_.startsWith("pb=")))

  /**
   * Unified identity audit for the put paths (the batch pipeline's
   * [[DedupPipeline.resolveIdCollisions]] contract extended to the
   * incremental path): every round flags (a) a batch doc_id claimed by
   * a STORED document with a different url, and (b) two batch docs with
   * different urls sharing one id — a collision a previous round's
   * remap can itself mint, which is why the intra-batch check repeats
   * every round rather than running once up front. Flagged rows are
   * deterministically re-idd with the round-salted rehash, EXCEPT a
   * stored incumbent's own re-put (same id, same url): re-idding the
   * incumbent would split one identity across two stored ids. Iterates
   * until clean; unresolved collisions fail loudly. Re-putting the SAME
   * url is not a collision (same identity). Scale shape: the audit
   * ships slim (doc_id, url-hash) projections — 16 B/doc, the
   * second-seed hash (seed −1, disjoint from the rehash round range)
   * stands in for url equality, and the stored side is an equi-join on
   * doc_id (planner picks broadcast/shuffle from stats); zero
   * collisions — the overwhelmingly common case — is one join + one
   * aggregation + count per put.
   */
  private def resolveCrossBatchIds(sigs: DataFrame): DataFrame = {
    if (cfg.idAuditRounds <= 0) return sigs
    // one deterministic (doc_id, url-hash) row per stored id (the store
    // is unaliased — this audit's own invariant — so the max() is just
    // a dedup of same-url re-puts across batches). Empty store (first
    // put) ⇒ empty frame: the loop still audits WITHIN the batch.
    val storedIds0 =
      if (store.isEmpty)
        sigs.select(col("doc_id"),
          xxhash64(col("url"), lit(-1)).as("__suh")).limit(0)
      else store.all()
        .select(col("doc_id"), xxhash64(col("url"), lit(-1)).as("__suh"))
    val storedIds = storedIds0
      .groupBy("doc_id").agg(max(col("__suh")).as("__suh"))
    var cur = sigs
    var round = 0
    while (round <= cfg.idAuditRounds) {
      val qh = cur
        .select(col("doc_id"), xxhash64(col("url"), lit(-1)).as("__quh"))
      val badStored = qh
        .join(storedIds, Seq("doc_id"))
        .filter(col("__quh") =!= col("__suh"))
        .select("doc_id")
      // a REMAP can mint a fresh collision INSIDE the batch (the
      // remapped id landing on another incoming doc's id) — the
      // within-batch audit ran before any remap, so re-check here every
      // round, exactly as the batch pipeline's audit loop does
      val badIntra = qh.groupBy("doc_id")
        // the null group (rows with neither a caller id nor a url —
        // see signatures()) rides the same aggregation; it cannot be
        // rehashed into an identity and fails below with its own
        // message instead of the misleading collision one
        .agg(countDistinct(col("__quh")).as("__u"))
        .filter(col("__u") > 1 || col("doc_id").isNull)
        .select("doc_id")
      val bad = badStored.union(badIntra).distinct()
      val nBad = bad.count()
      if (nBad == 0) return cur
      if (bad.filter(col("doc_id").isNull).count() > 0)
        throw new IllegalArgumentException(
          "rows with neither a doc_id nor a url have no identity — " +
            "supply a url or a caller-owned doc_id for every indexed row")
      if (round == cfg.idAuditRounds)
        throw new IllegalStateException(
          s"cross-batch doc_id collisions unresolved after " +
            s"${cfg.idAuditRounds} rehash rounds ($nBad colliding ids) — " +
            "refusing to index with ambiguous identities")
      round += 1
      val badIds = (if (nBad <= cfg.broadcastIdLimit) bad.hint("broadcast")
                    else bad).withColumnRenamed("doc_id", "__bad_id")
      // remap every row with a flagged id EXCEPT a stored incumbent's
      // own re-put (same id, same url): re-idding the incumbent would
      // split one identity across two stored ids
      cur = cur.join(badIds, cur("doc_id") === col("__bad_id"), "left")
        .join(storedIds, Seq("doc_id"), "left")
        .withColumn("doc_id",
          when(col("__bad_id").isNotNull &&
              (col("__suh").isNull ||
                col("__suh") =!= xxhash64(col("url"), lit(-1))),
            xxhash64(col("url"), lit(round)))
            .otherwise(col("doc_id")))
        .drop("__bad_id", "__suh")
    }
    cur
  }

  /**
   * Atomic stats refit + re-signature (reference's online accretion
   * surface, `randomprojection.go:253-270`, as an operational
   * compaction): re-fits [[CorpusStats]] over every stored batch and
   * re-signatures them all, so a corpus that drifted since the
   * first-put fit (new boilerplate flooding the bands, stale idf)
   * regains df-conditioned signatures without losing batch idempotence
   * — batch directories and doc_ids are preserved.
   *
   * Crash protocol: the new stats land in a `stats.refit` marker
   * FIRST; both stores are then rewritten through their swap commits;
   * the marker is swapped into `stats` LAST. A crash anywhere mid-refit
   * leaves the marker in place, and the next index operation replays
   * the rewrite from it (idempotent — re-signaturing with the same
   * stats is deterministic), so stats and signatures can never be
   * served inconsistently.
   */
  def refit(): Unit = {
    require(!isEmpty, "refit() on an empty index")
    ensureClean()
    val all = store.all()
    require(all.columns.contains("tf"),
      "this index predates the refit-capable layout (no stored tf " +
        "column) — rebuild it with put() to enable refit")
    // fit over the LIVE corpus (latest-batch-resolved): superseded
    // re-put rows would skew the df-conditioning toward re-put-heavy
    // documents, and — unit consistency with [[maybeAutoRefit]] —
    // stats.n must count live identities, not stored rows, or the
    // distinct-id trigger's threshold ratchets by the duplication
    // factor after every refit (same defect shape as IvfIndex.refit,
    // fixed together)
    val newStats = DedupPipeline.fitCorpusStats(
      graft.ckpt.BatchStore.latestBatchRows(all, "doc_id"), cfg)
    // the marker publish is itself atomic: a crash DURING the parquet
    // write must not leave a half-written marker that ensureClean
    // would then try to replay from
    Fs.publishByRename(statsNextPath, hconf)(saveStatsTo(_, newStats))
    completeRefit(newStats)
  }

  /** Replay/complete a pending refit: re-signature every batch with the
    * marker stats, regenerate the band layout, then commit the stats
    * swap. Idempotent — safe to re-run after a crash at any point. */
  private def completeRefit(st: CorpusStats): Unit = {
    store.rewrite(df =>
      DedupPipeline.applySignatures(df, st, cfg, keepTf = true))
    if (bandStore.isEmpty)
      // the only put ever crashed between its two writes (signatures
      // landed, band layout never created): there is nothing to
      // rewrite — rewrite() would throw on the missing path — so the
      // layout is generated fresh from the re-signatured store instead
      reconcileBands()
    else regenerateBands()
    Fs.swapInto(statsNextPath, statsPath, hconf)
    statsMemo = None // the stamp changed; drop the memo eagerly
  }

  // pending-remove marker: the urls to remove are published here
  // (atomically) BEFORE either store is rewritten, so a crash between
  // the two rewrites is replayed by the next operation — without it, a
  // half-removed doc (gone from the bands, still in the signature
  // store) would be RESURRECTED by the next refit, which regenerates
  // band rows from the signature store
  private def removePendingPath = s"$path/remove.pending"

  /** Called on every public operation: finish whatever a crashed writer
    * left pending (cheap no-op — a few existence probes — when nothing
    * is). Order matters: a pending remove replays before a pending
    * refit, so the refit's regenerated band layout reflects the
    * removal; the two markers are mutually exclusive by construction
    * (each public mutation drains both before publishing its own). */
  private def ensureClean(): Unit = {
    // a crash DURING the final stats swap: complete the swap itself
    Fs.recoverSwap(statsNextPath, statsPath, hconf)
    if (Fs.exists(removePendingPath, hconf)) completeRemove()
    // a crash BEFORE the stats swap: marker still present — replay the
    // rewrites from it (the stores may hold old, new, or mixed
    // signatures; the replay is idempotent either way)
    loadStatsFrom(statsNextPath).foreach(completeRefit)
  }

  /** Remove documents by url (reference `Remove(id)`): the url set is
    * published to a pending-remove marker first (atomic rename), then
    * both stores are rewritten through their swap commits (anti-join
    * into a TEMP directory — the read source is never the write
    * target), and the marker is dropped last. A crash anywhere is
    * replayed idempotently by the next operation, so a removed doc can
    * never be half-removed or resurrected by a later refit. On
    * HDFS/object stores the swaps map to rename commits / Iceberg
    * snapshot swaps. Publishing the marker also SNAPSHOTS the caller's
    * url frame — the replay reads the parquet copy, immune to the
    * caller's frame being nondeterministic. */
  def remove(urls: DataFrame): Unit = {
    ensureClean()
    reconcileBands()
    // a null removal url matches nothing in the semi/anti joins — the
    // remove would silently no-op (invariant 33); raise at marker
    // publication, before any store is touched
    Fs.publishByRename(removePendingPath, hconf)(
      urls.select(coalesce(col("url"), raise_error(lit(
          "identity-less remove: null url")).cast("string")).as("url"))
        .write.mode("overwrite").parquet(_))
    completeRemove()
  }

  /** Replay/complete a pending remove from its marker. Idempotent. */
  private def completeRemove(): Unit = {
    val u = spark.read.parquet(removePendingPath).select(col("url"))
    if (!bandStore.isEmpty) {
      // band rows first, FROM the still-intact signature store: if the
      // replay itself crashes between the rewrites, the removed docs
      // are bandless — unreachable by search — until the next replay
      val removedIds = store.all().join(u, Seq("url"), "left_semi")
        .select(col("doc_id"))
      rewriteBands(_.join(removedIds, Seq("doc_id"), "left_anti"))
    }
    store.rewrite(_.join(u, Seq("url"), "left_anti"))
    Fs.deleteIfExists(removePendingPath, hconf)
  }

  def all(): DataFrame = store.all()

  /** Consolidate batches ≤ `upTo` into one directory in BOTH stores
    * (signatures + band layout), applying last-put-wins per identity
    * while the batch order still exists: a url re-put across compacted
    * batches keeps only its newest signature row, and its band rows
    * regenerate from exactly those survivors — the two stores stay
    * consistent by construction. Replay-safety contract:
    * [[graft.ckpt.BatchStore.compact]] (only compact below the
    * streaming checkpoint's committed watermark). */
  def compact(upTo: Long): Unit = {
    ensureClean()
    reconcileBands()
    store.compact(upTo)(
      graft.ckpt.BatchStore.latestBatchRows(_, "doc_id"))
    // band rows are DERIVED data: regenerate the compacted range from
    // the post-compaction signature store instead of trying to mirror
    // the window rule over exploded rows. A crash between the two
    // rewrites leaves stale band dirs for the merged batches — harmless
    // (their candidates die at the signature join, which only serves
    // surviving rows) and dropped by the next band rewrite.
    rewriteBands { bands =>
      bands.filter(col("batch") > upTo).unionByName(
        bandRows(store.all().filter(col("batch") <= upTo),
          keep = Seq("batch")))
    }
  }

  /** Near-dup matches of `pages` against the stored index: pruned
    * band-key equi-join + exact Jaccard verify (reference `Search`
    * semantics, `index.go:215-255`, without top-k truncation). Queries
    * are signed with the stored corpus stats so band keys line up with
    * the index. The stored band scan carries the query batch's `pb`
    * values as a pushed Parquet filter (`PushedFilters: [In(pb, …)]`):
    * band files are sorted by pb, so row-group and page statistics
    * skip the data of every other pb — sub-linear in the index size at
    * large batch sizes, like the reference's per-band bucket lookup. A
    * batch smaller than one Parquet page is read whole. The IN set's
    * size is bounded by the fixed pb domain, never by the corpus.
    * Falls back to a full band join on an index written before the
    * band layout existed. Returns (query_url, match_url, jaccard). */
  def search(pages: DataFrame): DataFrame = {
    var tries = 0
    while (tries < 3) {
      // snapshot validation (same shape as IvfIndex.search): reads
      // take no lease, so a refit completing mid-search re-signatures
      // the stored rows under NEW stats while this search signed its
      // queries with the OLD ones — band keys stop lining up and true
      // matches vanish silently. Materialize the (match-sized) result,
      // confirm the stats are the ones the queries were signed with,
      // retry on a changed stamp. ~1 s mtime granularity narrows, not
      // closes, the cross-process window.
      val stamp = Fs.modifiedMs(statsPath, hconf)
      val (plan, pin) = searchPlanPinned(pages)
      // the result snapshot no longer references the query pin — free
      // it eagerly (invariant 32: a per-micro-batch serving loop must
      // not accrete one pinned query block set per call)
      val res =
        try plan.localCheckpoint(true)
        finally pin.foreach(graft.ckpt.Checkpoints.free)
      if (Fs.modifiedMs(statsPath, hconf) == stamp) return res
      graft.ckpt.Checkpoints.free(res)
      tries += 1
    }
    throw new IllegalStateException(
      s"index at $path refit three times during one search — refit " +
        "churn; retry when the writer settles")
  }

  /** The LAZY search frame — [[search]] without the refit-consistency
    * validation, for plan inspection (PushedFilters evidence) and
    * specs; production callers want [[search]]. The frame pins the
    * query-signature snapshot for its lifetime (spec-scoped; the
    * serving path frees it per call). */
  def searchPlan(pages: DataFrame): DataFrame = searchPlanPinned(pages)._1

  /** ([[searchPlan]] frame, the query-side pin it references — None on
    * the empty-index early return) — the pin may be freed once the
    * frame is materialized. */
  private def searchPlanPinned(pages: DataFrame)
      : (DataFrame, Option[DataFrame]) = {
    // empty index: nothing can match — return the empty result without
    // signaturing the queries. (Signaturing would also FIT first-put
    // corpus stats from a read path, which is the put paths' job and
    // takes the writer lease.)
    if (isEmpty) {
      val s = pages.sparkSession
      return (s.range(0).select(lit("").as("query_url"),
        lit("").as("match_url"), lit(0.0).as("jaccard")), None)
    }
    // a crashed refit must never serve mixed state: stats in `stats`
    // with signatures already rewritten for `stats.refit` (or half the
    // batches re-signatured) would miss true duplicates silently
    ensureClean()
    import graft.lsh.Lsh
    // pin the query signatures before the driver collects the pruning
    // set from them: the stored-side pb filter and the verify
    // join below both re-evaluate this frame, and a nondeterministic
    // caller frame (sample, unordered limit) re-evaluated differently
    // would probe pb values the filter already excluded — silent
    // misses. localCheckpoint materializes one snapshot that every
    // downstream plan reads (executor-local blocks: a lost executor
    // fails the query loudly rather than serving a partial answer).
    // Identity-less queries (null url AND no caller doc_id) fail
    // loudly HERE, at materialization: the put paths catch null ids
    // in resolveCrossBatchIds, but no audit runs on reads, and a null
    // qid never equi-joins — the query row would contribute zero
    // result rows with no signal. Per-row coalesce short-circuit: no
    // extra job, no cost on well-formed rows. When the raise fires,
    // blocks cached by the materialization's already-finished tasks
    // have no handle to free (the checkpointed frame is never
    // returned) and wait for Spark's ContextCleaner — acceptable on a
    // loud caller-bug path; the alternative, a separate validation
    // job per search, would tax every clean call instead.
    val q = signatures(pages)
      .withColumn("doc_id", coalesce(col("doc_id"), raise_error(lit(
        "identity-less search query: null url and no doc_id — search " +
          "results are keyed by qid, so such a row can never surface " +
          "its matches; give each query page a url or a doc_id"))
        .cast("long")))
      .localCheckpoint(true)
    // a failure below (the pb-pruning collect, batch listing) must not
    // orphan the query pin — free it on the error path, rethrow
    try {
    val stored = all()
    def bands(df: DataFrame) = Lsh.explodeBands(df, "doc_id",
      Lsh.minhashBandKeys(col("minhash"), cfg.bands, cfg.rows),
      element_at(col("minhash"), 1))
    val candsRaw =
      if (bandStore.isEmpty) {
        // legacy layout: explode the whole stored table and shuffle
        bands(q).select(col("doc_id").as("qid"), col("band"), col("key"))
          .join(bands(stored)
            .select(col("doc_id").as("sid"), col("band"), col("key")),
            Seq("band", "key"))
      } else {
        val qb = bands(q)
          .select(col("doc_id").as("qid"),
            pbCol(col("band"), col("key")).as("pb"), col("key"))
        // the pruning set: distinct pb values in the query batch —
        // collect is bounded by the pb DOMAIN (bands·bandBuckets),
        // a config constant, regardless of query or index size. It
        // reaches the stored scan as a pushed Parquet data filter (a
        // partition filter on a legacy pb= directory store, which
        // search reads as it is until the next mutation upgrades it)
        val pbs = qb.select("pb").distinct().collect().map(_.getInt(0))
        // read-only repair: a batch whose band rows never landed (a put
        // crashed between its two writes) is served from band rows
        // computed in-plan from its signatures — search never takes the
        // band store's writer lease; the durable backfill happens on
        // the next mutation (reconcileBands). Only the crashed batch
        // pays an unpruned scan, and only until then.
        val have = bandStore.batchIds().toSet
        val missing = store.batchIds().filterNot(have)
        val storedBands0 = bandStore.all().select("pb", "key", "doc_id")
        val storedBands =
          if (missing.isEmpty) storedBands0
          else storedBands0.unionByName(
            bandRows(stored.filter(
              col("batch").isin(missing.map(Long.box): _*))))
        // skip the predicate when the query batch touches every pb: it
        // skips nothing and a full-domain IN costs optimizer time
        (if (pbs.length < cfg.bands * cfg.bandBuckets)
           storedBands.filter(col("pb").isin(pbs.map(Int.box).toSeq: _*))
         else storedBands)
          .select(col("doc_id").as("sid"), col("pb"), col("key"))
          .join(qb, Seq("pb", "key"))
      }
    val cands = candsRaw
      .filter(col("qid") =!= col("sid"))
      .select("qid", "sid").distinct()
    val qs = q.select(col("doc_id").as("qid"), col("url").as("query_url"),
      col("shingles").as("qsh"))
    val ss = stored.select(col("doc_id").as("sid"), col("url").as("match_url"),
      col("shingles").as("ssh"), col("batch").as("__sb"))
    // last-put-wins per stored identity: the audit ALLOWS re-putting the
    // same (id, url) across batches — same identity — so a sid can hold
    // several stored rows (possibly with UPDATED text). Search must
    // serve the newest, and must not emit one logical match several
    // times. The dedup runs on the candidate-sized joined frame (a
    // window over the full store per search would shuffle 10^9 rows).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "sid").orderBy(col("__sb").desc)
    (cands.join(qs, "qid").join(ss, "sid")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("jaccard",
        graft.verify.VectorFunctions.jaccardLongK(col("qsh"), col("ssh")))
      .filter(col("jaccard") >= cfg.tau)
      .select("query_url", "match_url", "jaccard"), Some(q))
    } catch { case t: Throwable =>
      graft.ckpt.Checkpoints.free(q); throw t }
  }
}

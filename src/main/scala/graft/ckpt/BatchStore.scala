package graft.ckpt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/**
 * Partitioned-Parquet batch store shared by the mutable indexes
 * ([[graft.ops.IncrementalIndex]], [[graft.ops.IvfIndex]],
 * [[graft.lsh.ForestIndex]]):
 * per-batch `batch=<id>` partition directories, idempotent per-batch
 * overwrite (streaming replay safe), atomic directory-swap rewrite for
 * deletes, all metadata through the Hadoop FS API ([[Fs]]).
 *
 * A schema manifest (`<root>.schema.json`, a SIBLING of the data dir so
 * the swap commit cannot delete it) is published on first write and
 * used for every read: a store whose rows were all removed has no
 * parquet footers left to infer a schema from — without the manifest,
 * `all()` after a remove-everything would throw instead of returning
 * an empty frame.
 *
 * Mutations are SINGLE-WRITER, enforced by a lease file
 * (`<root>.lock`, claimed with an exclusive create): `nextBatchId` is
 * list-and-max, so two unguarded concurrent writers would claim the
 * same id and the second overwrite silently clobbers the first. A
 * second writer now fails loudly instead. A lease whose file is older
 * than `leaseTtlMs` is presumed crashed and broken. Opening a store
 * first completes any swap commit a crashed writer left pending
 * ([[Fs.recoverSwap]]).
 */
object BatchStore {
  /** Rows of each key's NEWEST batch — every row of that batch (a
    * row_number dedup would drop an id's other rows, e.g. a forest
    * id's sibling rotations). The shared last-put-wins resolver for
    * the indexes' compaction/pruning paths. */
  def latestBatchRows(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, max}
    val w = Window.partitionBy(keyCol)
    df.withColumn("__graft_mb", max(col("batch")).over(w))
      .filter(col("batch") === col("__graft_mb"))
      .drop("__graft_mb")
  }
}

final class BatchStore(spark: SparkSession, root: String,
                       leaseTtlMs: Long = 60L * 60 * 1000,
                       subPartitionCols: Seq[String] = Nil) {
  private val hconf = spark.sparkContext.hadoopConfiguration
  private def schemaPath = s"$root.schema.json"
  private def swapPath = s"$root.swap"
  private def lockPath = s"$root.lock"
  private def rowsPath = s"$root.rows"

  // ---- running row-count manifest (`<root>.rows`, "batchId count"
  // lines) ---- callers polling store size per mutation (the indexes'
  // growth-triggered auto-refit) read this tiny sibling file instead of
  // counting the store: a full-store count lists and foots every batch
  // dir of a 10^9-row store on every streaming micro-batch. The
  // manifest is advisory state rebuilt from the data whenever its batch
  // set disagrees with the directory listing (legacy stores, crash
  // windows, post-rewrite) — it can be deleted at any time.
  private def readRowCounts(): Map[Long, Long] =
    if (!Fs.exists(rowsPath, hconf)) Map.empty
    else try {
      Fs.readString(rowsPath, hconf).split("\n").iterator
        .map(_.trim).filter(_.nonEmpty).map { l =>
          val Array(a, b) = l.split(" "): @unchecked
          a.toLong -> b.toLong
        }.toMap
    } catch { case _: Exception => Map.empty } // malformed = absent

  private def writeRowCounts(m: Map[Long, Long]): Unit =
    Fs.writeStringAtomic(rowsPath,
      m.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("\n"), hconf)

  /** Total stored rows. No Spark job when the manifest covers the
    * current batch set (one small file read); a missing or stale
    * manifest is rebuilt with ONE grouped count job. The recount runs
    * OUTSIDE the writer lease — it is a full-store Spark job (minutes
    * at 10^9 rows), and holding the single-writer lease across it
    * would fail a live writer's putBatch with a loud IOException: a
    * pure read API killing the writer (inside a streaming foreachBatch
    * sink, the whole query). The lease is claimed only to PERSIST the
    * result, and only when the rebuild is provably still current: the
    * batch set is unchanged, the manifest is still incomplete (a
    * completed racing writer re-adds its own entry, making the keySet
    * whole), and no mutation has touched the store root since the
    * rebuild began (a staging write bumps the root mtime by creating
    * children in it; a whole-store swap does NOT inherit one — rename
    * preserves the staging dir's own older mtime — so swapInto stamps
    * the commit time onto the swapped-in dir explicitly; without that
    * stamp a rewrite that committed mid-rebuild read as "untouched"
    * and this gate persisted pre-rewrite counts as complete). The
    * comparison is strict (< t0, not <=) so a same-millisecond
    * mutation cannot slip under coarse mtime granularity. Otherwise
    * the persist is dropped and the count served unpersisted; the
    * next uncontended call rebuilds fresh. */
  def rowCount(): Long = {
    // seed every listed batch id: an EMPTY batch dir (a rows-less
    // streaming trigger) produces no groupBy row, and a manifest
    // missing its id would fail the keySet check forever — every
    // later call re-running the full count the manifest exists to
    // avoid
    def rebuild(ids: Set[Long]): Map[Long, Long] = {
      val counted = all().groupBy("batch").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids.map(id => id -> counted.getOrElse(id, 0L)).toMap
    }
    val t0 = System.currentTimeMillis()
    val ids = batchIds().toSet
    if (ids.isEmpty) 0L
    else {
      val m = readRowCounts()
      if (m.keySet == ids) m.values.sum
      else {
        val c = rebuild(ids)
        try withLease {
          if (batchIds().toSet == ids && readRowCounts().keySet != ids &&
              Fs.modifiedMs(root, hconf).forall(_ < t0))
            writeRowCounts(c)
        } catch {
          case _: java.io.IOException => () // writer busy: serve unpersisted
        }
        c.values.sum
      }
    }
  }

  Fs.recoverSwap(swapPath, root, hconf)
  recoverBatchSwaps()

  /** Complete any per-batch swap a crashed writer left mid-commit
    * (leftover `.batch-<id>.tmp` staging dirs or `batch=<id>.old` aside
    * copies) — one directory listing, no Spark job. */
  private def recoverBatchSwaps(): Unit =
    Fs.listNames(root, hconf).foreach { n =>
      val leftover = "\\.batch-(\\d+)\\.(?:tmp|old)".r
      n match {
        case leftover(i) =>
          Fs.recoverSwap(s"$root/.batch-$i.tmp", s"$root/batch=$i",
            s"$root/.batch-$i.old", hconf)
        case _ => ()
      }
    }

  /** Run `f` holding the store's single-writer lease (loud failure if
    * another writer holds it; stale leases broken after the TTL).
    *
    * Break-race hardening (NARROWED, not closed — a plain filesystem
    * has no compare-and-delete, so a window always remains): two
    * writers blocked on one stale lease can both read the stale mtime
    * and interleave delete/create so the slower delete removes the
    * faster writer's FRESH lock. Three mitigations stack: the
    * staleness read repeats immediately before the delete (a freshly
    * created or heartbeated lock reads young on the re-read), the
    * claim is verified by re-reading the lock content after a short
    * grace (a claimant whose unique token is gone lost the race and
    * fails loudly; both run only when a lock was OBSERVED at entry —
    * an uncontended claim has no breaker to race and skips the
    * grace), and the heartbeat keeps LIVE leases far from the
    * TTL so only genuinely crashed holders ever look stale — size the
    * TTL well above any heartbeat pause (GC, host stall). The
    * heartbeat refreshes the lock mtime at ttl/4 while `f` runs, so a
    * legitimate mutation longer than the TTL (a full-store rewrite at
    * 10^9 rows) is not broken as stale mid-hold. */
  def withLease[T](f: => T): T = {
    // `sawLock`: a break race needs a breaker, and a breaker only acts
    // on a lock it observed as stale — if NO lock existed at entry, any
    // concurrent claimant goes through createExclusive like us and
    // exactly one wins, no delete in flight. The grace+verify below is
    // therefore gated on having seen a lock: the common uncontended
    // claim (every streaming micro-batch pays 2-3 of them) skips the
    // 50 ms sleep. (A delete pended by a breaker whose OWN stale
    // reading predates a third writer's break would need ≥3 concurrent
    // writers on a single-writer store — out of contract.)
    val sawLock = Fs.modifiedMs(lockPath, hconf) match {
      case Some(ts) =>
        // re-read right before the delete: narrows (not closes — the
        // ownership verify below is the real guard) the window where
        // two breakers act on one stale reading
        if (System.currentTimeMillis() - ts > leaseTtlMs &&
            Fs.modifiedMs(lockPath, hconf).exists(t2 =>
              System.currentTimeMillis() - t2 > leaseTtlMs))
          Fs.deleteIfExists(lockPath, hconf) // break a crashed writer's lease
        true
      case None => false
    }
    val token = s"${System.currentTimeMillis()} ${java.util.UUID.randomUUID()}"
    if (!Fs.createExclusive(lockPath, token, hconf))
      throw new java.io.IOException(
        s"BatchStore at $root: another writer holds the lease ($lockPath) — " +
        s"concurrent mutation is single-writer by contract; a crashed " +
        s"holder's lease expires after ${leaseTtlMs / 1000} s")
    // From here the lock exists and is OURS unless a break race steals
    // it — every failure path must release it iff it still carries our
    // token (deleting unconditionally could remove the racing winner's
    // fresh lock; not deleting leaks ours for a full TTL).
    def releaseIfOurs(): Unit =
      try {
        // one retry on a transient read failure, like the owned-verify
        // above: a swallowed false "not ours" here strands OUR live
        // lock for a full TTL (every later putBatch fails loudly until
        // the lease expires — fatal to a streaming ingest)
        val ours =
          try Fs.readString(lockPath, hconf) == token
          catch { case _: java.io.IOException =>
            Fs.readString(lockPath, hconf) == token }
        if (ours) Fs.deleteIfExists(lockPath, hconf)
      } catch { case _: Exception => () }
    val owned =
      try {
        if (sawLock) {
          // grace before the verify: a racing breaker's delete would
          // have to land MORE than this after its own staleness re-read
          // to slip past undetected — its delete follows that re-read
          // by microseconds
          Thread.sleep(50)
          // one retry on a transient read failure before concluding the
          // lock is lost — a false "lost" here would strand OUR live
          // lock for a full TTL
          try Fs.readString(lockPath, hconf) == token
          catch { case _: java.io.IOException =>
            Fs.readString(lockPath, hconf) == token }
        } else true
      } catch {
        case e: Throwable => releaseIfOurs(); throw e
      }
    if (!owned)
      // the file now carries the racing winner's token — theirs to
      // delete, not ours
      throw new java.io.IOException(
        s"BatchStore at $root: lost the stale-lease break race for " +
        s"$lockPath — another writer claimed it concurrently")
    @volatile var beating = true
    val beat = new Thread(() => {
      // a FIXED floor above ttl/4 would let a short TTL out-sleep its
      // own lease (ttl=800ms with a 1 s floor → broken mid-hold)
      val interval = math.max(100L, leaseTtlMs / 4)
      while (beating) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        if (beating) Fs.touch(lockPath, hconf)
      }
    })
    beat.setDaemon(true)
    try {
      beat.start()
      f
    } finally {
      beating = false
      beat.interrupt()
      beat.join(1000)
      // token-conditional, like every other release path: if this
      // holder stalled past the TTL (GC/host pause also stops the
      // heartbeat), a breaker may hold a FRESH lock here — deleting
      // unconditionally would strip the live winner's lease and let a
      // third writer claim concurrently (nextBatchId is list-and-max,
      // so two live writers can allocate the same batch id)
      releaseIfOurs()
    }
  }

  def isEmpty: Boolean = !Fs.exists(root, hconf)

  /** Ids of the batch partition directories currently in the store —
    * one filesystem listing, no Spark job. A committed batch dir is
    * COMPLETE by construction (batch writes stage + swap, below), so
    * presence in this listing means the batch is fully readable. */
  def batchIds(): Seq[Long] =
    Fs.listNames(root, hconf)
      .filter(_.matches("batch=\\d+")).map(_.stripPrefix("batch=").toLong)

  def nextBatchId(): Long = {
    val ids = batchIds()
    if (ids.isEmpty) 0L else ids.max + 1L
  }

  /** Allocate the next batch id and insert under ONE lease claim —
    * closes the id-allocation race two independent put() callers had.
    * `also` runs with the allocated id while the lease is still held,
    * for companion stores that must key on the same batch id (it may
    * claim OTHER stores' leases, never this one's — re-claiming the
    * same lease fails loudly by design). */
  def append(df: DataFrame, also: Long => Unit = _ => ()): Long = withLease {
    val id = nextBatchId()
    writeBatchUnguarded(df, id)
    also(id)
    id
  }

  /** Idempotent per-batch insert: writing batch `id` twice overwrites
    * the same partition directory instead of duplicating rows. */
  def writeBatch(df: DataFrame, batchId: Long): Unit =
    withLease(writeBatchUnguarded(df, batchId))

  private def writeBatchUnguarded(df: DataFrame, batchId: Long): Unit = {
    // stage + swap: the parquet lands in a dot-prefixed staging dir
    // (hidden from Spark's file listings) and is swap-committed into
    // `batch=<id>` — a crash mid-write can never leave a PARTIAL batch
    // dir that a read (or a batch-listing reconciler) would count as
    // complete; interrupted swaps are finished by [[recoverBatchSwaps]]
    // on the next open. subPartitionCols land as partition DIRECTORIES
    // under the batch dir (batch=i/<col>=v/...), so reads filtered on
    // them prune at the scan — the IvfIndex (cell) and ForestIndex (tb)
    // serving layouts. Without them the caller's rows land in the
    // caller's order: IncrementalIndex sorts its band rows by (pb, key)
    // so Parquet statistics serve its pruning instead of directories.
    if (!Fs.exists(schemaPath, hconf)) {
      // full read-back schema = data columns + the dir-derived batch
      // col; published BEFORE any data can exist under root, so a store
      // root with only staging leftovers still reads as a schema-pinned
      // empty frame
      val full = df.schema.add("batch", LongType, nullable = true)
      Fs.writeStringAtomic(schemaPath, full.json, hconf)
    }
    val staging = s"$root/.batch-$batchId.tmp"
    Fs.deleteIfExists(staging, hconf)
    // cluster rows by the partition columns before the partitioned
    // write: without it EVERY write task emits a file into EVERY value
    // dir it sees (tasks × domain small files per batch — measured 8k
    // files/batch at 32 tasks × 256 cells, and the serving searches
    // paid more wall in file listing/scheduling than in scan). One
    // O(batch) exchange bounds the file count by the partition domain.
    val clustered =
      if (subPartitionCols.isEmpty) df
      else df.repartition(subPartitionCols.map(org.apache.spark.sql.functions.col): _*)
    clustered.write.mode("overwrite").partitionBy(subPartitionCols: _*)
      .parquet(staging)
    // staged-batch row count for the running manifest: an O(batch)
    // count over the just-written staging parquet (metadata-weight),
    // never an O(store) listing. The explicit schema matters: an EMPTY
    // batch (a streaming trigger with no rows) stages only _SUCCESS,
    // and schema inference over a data-less dir would throw. The entry
    // is DROPPED before the swap and re-added after: a crash inside
    // the window leaves a missing entry (self-healed by one recount in
    // rowCount()) instead of a silently stale count.
    val n = spark.read.schema(df.schema).parquet(staging).count()
    writeRowCounts(readRowCounts() - batchId)
    // the aside is dot-prefixed (hidden) because it lives INSIDE the
    // read root — a visible `batch=<id>.old` would be picked up by
    // partition discovery during the swap window
    Fs.swapInto(staging, s"$root/batch=$batchId",
      s"$root/.batch-$batchId.old", hconf)
    writeRowCounts(readRowCounts() + (batchId -> n))
  }

  /** Every stored row (schema-pinned — works on an emptied store). */
  def all(): DataFrame =
    if (Fs.exists(schemaPath, hconf)) {
      val schema = DataType.fromJson(Fs.readString(schemaPath, hconf))
        .asInstanceOf[StructType]
      spark.read.schema(schema).parquet(root)
    } else spark.read.parquet(root)

  /** Consolidate every batch with id ≤ `upTo` into ONE batch directory
    * (id = `upTo`), through the atomic rewrite. A streaming store
    * accretes a `batch=<id>` dir per micro-batch; partition pruning
    * bounds what a search READS, but every open/search still LISTS all
    * batch dirs — compaction bounds the directory count. `resolve` is
    * applied to the consolidated subset BEFORE its batch ids collapse:
    * merging batches erases their order, so an id-keyed index must
    * resolve its last-put-wins identities here (each index supplies
    * its own rule); rows with batch > upTo are untouched.
    *
    * SAFETY CONTRACT: a replayed `writeBatch(id ≤ upTo)` AFTER
    * compaction would overwrite the consolidated directory with that
    * one batch's rows. Only compact ids that can no longer replay —
    * for Structured Streaming ingestion, batches at or below the
    * checkpoint's committed watermark. */
  def compact(upTo: Long)(resolve: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    rewrite { df =>
      val old = resolve(df.filter(col("batch") <= upTo))
        .withColumn("batch", lit(upTo))
      df.filter(col("batch") > upTo).unionByName(old)
    }
  }

  /** Atomic whole-store rewrite: `f(all())` lands in a temp dir, then a
    * directory swap commits — the read source is never the write
    * target, so cache eviction or a mid-write crash cannot destroy the
    * store. The `batch` partition column must survive `f`. The rows of
    * each written file are sorted by `sortWithin` (after the partition
    * columns): the clustering exchange below drops any order `f` had,
    * so a store whose reads rely on a within-file order restates it. */
  def rewrite(f: DataFrame => DataFrame,
              sortWithin: Seq[String] = Nil): Unit = withLease {
    import org.apache.spark.sql.functions.col
    val cols = "batch" +: subPartitionCols
    // same files-per-partition-dir bound as the batch write path; the
    // partitioned writer's own sort by `cols` is a prefix of this one,
    // so it adds no second sort
    f(all()).repartition(cols.map(col): _*)
      .sortWithinPartitions((cols ++ sortWithin).map(col): _*)
      .write.mode("overwrite")
      .partitionBy(cols: _*).parquet(swapPath)
    // the rewrite changes per-batch counts (anti-join removes rows):
    // invalidate the manifest before the swap — rowCount() rebuilds it
    // lazily from the new data on its next call
    Fs.deleteIfExists(rowsPath, hconf)
    Fs.swapInto(swapPath, root, hconf)
  }
}

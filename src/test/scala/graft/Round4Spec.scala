package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.{BatchStore, Fs}

/** Round-4 contracts: crash-safe swap commit (the store root is never
  * the only casualty of a mid-commit crash), swap recovery on open,
  * and the single-writer lease on [[BatchStore]] mutations. */
class Round4Spec extends AnyFunSuite with SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-r4-").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def newStore(root: String, ttlMs: Long = 60L * 60 * 1000) =
    new BatchStore(spark, root, ttlMs)

  private def seeded(root: String): BatchStore = {
    import spark.implicits._
    val st = newStore(root)
    st.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    st.writeBatch(Seq((3L, "c")).toDF("id", "v"), 1L)
    st
  }

  test("swapInto: root is never missing-with-data-orphaned; a crash " +
    "between aside and commit is completed by recoverSwap on open") {
    val root = s"${freshDir()}/sigs"
    seeded(root)
    // simulate the crash window the old delete-then-rename protocol
    // left fatal: new data fully written to the swap dir, old root
    // renamed aside, commit rename never ran
    val fs = Fs.fileSystem(root, hconf)
    import org.apache.hadoop.fs.{Path => HPath}
    import spark.implicits._
    val tmpDir = freshDir()
    val tmp = new BatchStore(spark, s"$tmpDir/tmpstore")
    tmp.writeBatch(Seq((9L, "z")).toDF("id", "v"), 7L)
    assert(fs.rename(new HPath(root), new HPath(root + ".old")))
    assert(fs.rename(new HPath(s"$tmpDir/tmpstore"), new HPath(root + ".swap")))
    // root is now missing; a raw isEmpty would read true and a new put
    // would silently start batch=0 over the orphan — opening the store
    // must instead complete the pending swap before serving anything
    val st = newStore(root)
    assert(!st.isEmpty, "recovery must complete the pending swap commit")
    val ids = st.all().select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq
    assert(ids === Seq(9L), "recovered store must serve the NEW (swap) data")
    assert(!fs.exists(new HPath(root + ".old")), "aside copy cleaned up")
    assert(st.nextBatchId() === 8L)
  }

  test("recoverSwap: only the aside copy surviving restores the old data") {
    val root = s"${freshDir()}/sigs"
    seeded(root)
    val fs = Fs.fileSystem(root, hconf)
    import org.apache.hadoop.fs.{Path => HPath}
    assert(fs.rename(new HPath(root), new HPath(root + ".old")))
    val st = newStore(root)
    assert(!st.isEmpty)
    assert(st.all().count() === 3)
  }

  test("swapInto failure restores the aside copy (store keeps serving)") {
    val root = s"${freshDir()}/sigs"
    seeded(root)
    // src does not exist -> rename fails -> old state must come back
    intercept[java.io.IOException] {
      Fs.swapInto(s"$root.swap", root, hconf)
    }
    assert(newStore(root).all().count() === 3)
  }

  test("BatchStore lease: a second writer fails loudly instead of " +
    "silently clobbering the first's batch id") {
    import spark.implicits._
    val root = s"${freshDir()}/sigs"
    val st = seeded(root)
    val ex = intercept[java.io.IOException] {
      st.withLease {
        // a concurrent writer arriving while the lease is held
        newStore(root).append(Seq((4L, "d")).toDF("id", "v"))
      }
    }
    assert(ex.getMessage.contains("lease"))
    // lease released after the holder finishes: next append works and
    // allocates past the existing batches
    assert(newStore(root).append(Seq((4L, "d")).toDF("id", "v")) === 2L)
    assert(st.all().count() === 4)
  }

  test("BatchStore lease: a stale (crashed-writer) lease is broken " +
    "after the TTL") {
    import spark.implicits._
    val root = s"${freshDir()}/sigs"
    seeded(root)
    // leave a lease file behind as a crashed writer would
    assert(Fs.createExclusive(s"$root.lock", "123", hconf))
    Thread.sleep(20)
    val st = newStore(root, ttlMs = 1L)
    assert(st.append(Seq((5L, "e")).toDF("id", "v")) === 2L)
  }

  test("ForestIndex.search accepts the documented qid column name") {
    import spark.implicits._
    val dir = s"${freshDir()}/forest"
    val idx = new graft.lsh.ForestIndex(spark, dir)
    idx.put(Seq((1L, 0x0L), (2L, -1L)).toDF("id", "sig"))
    val hits = idx.search(Seq((10L, 0x1L)).toDF("qid", "sig"), 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(hits.toSeq === Seq((10L, 1L)))
  }

  // ---- band-bucketed serving layout: pruned search (VERDICT r3 #2) ----

  /** Even/odd id pairs differ by one low bit — Hamming-1 planted
    * partners (id ^ 1 is each doc's true nearest neighbour). */
  private def plantedSigs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = new scala.util.Random(i / 2).nextLong() & ~1L
      (i.toLong, if (i % 2 == 0) base else base ^ 1L)
    }.toDF("id", "sig")
  }

  test("ForestIndex.search prunes the stored scan to the query's tb " +
    "partitions (PartitionFilters) and matches the unpruned batch path " +
    "exactly") {
    import spark.implicits._
    val dir = s"${freshDir()}/forest"
    val idx = new graft.lsh.ForestIndex(spark, dir)
    val rows = plantedSigs(400)
    idx.put(rows.filter($"id" < 200))
    idx.put(rows.filter($"id" >= 200))
    val queries = rows.filter($"id" % 20 === 0)
      .select($"id", $"sig")
    val res = idx.search(queries, 3)
    // 1. the stored side is partition-pruned: the band-store scan must
    // carry a non-trivial PartitionFilters entry on tb (asserted on the
    // exact frame search() scans — the search result itself is
    // checkpoint-cut and no longer shows the file scan)
    val plan = idx.prunedStored(queries)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"no tb partition pruning in stored scan:\n${plan.take(6000)}")
    // 2. pruning drops no true candidates: exact equality with the
    // unpruned batch-search path over the same (id, sig) rows
    val pruned = res.select("query_id", "neighbor_id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val full = graft.lsh.LshForest.searchTopK(
        rows, "id", queries.select($"id", $"sig"), "id", "sig", 3)
      .select("query_id", "neighbor_id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(pruned === full,
      s"pruned != full: missing=${full -- pruned}, extra=${pruned -- full}")
    // planted Hamming-1 partner is rank 1 for every query
    val top1 = pruned.filter(_._4 == 1).map(t => t._1 -> t._2).toMap
    assert(queries.select("id").as[Long].collect()
      .forall(q => top1.get(q).contains(q ^ 1L)))
  }

  // ---- refit + cross-batch identity audit (VERDICT r3 #3/#4) ----

  /** Letter-only unique word: "p" + digits-of-i mapped to letters (the
    * tokenizer is `[\p{L}]+`, so digits would vanish). */
  private def w(prefix: String, i: Int): String =
    prefix + i.toString.map(d => ('a' + (d - '0')).toChar)

  /** Drifted-corpus fixture. Batch 0 (the stats-fit batch): 12 docs of
    * unique content, so the fitted hot-shingle list is EMPTY. Batch 1
    * (drift): 24 docs carrying boilerplate tails `P++T_A` / `P++T_B`
    * (12 each, so the tails' internal shingles reach df=13 > minDf=8 —
    * hot under a REFIT but invisible to the stale stats), plus the
    * planted near-dup pair: A = C++P++T_A (the query), B = C++P++T_B
    * (indexed). Shared shingles 60 (C + the C→P boundary), differing 6
    * per side (the tail internals) → raw Jaccard 60/72 ≈ 0.833 ≥ τ=0.8,
    * so exact verify passes; with 2 bands × 64 rows the stale banding
    * (tails included) collides with prob ≈ 2·0.833⁶⁴ ≈ 10⁻⁵ — a
    * deterministic miss for this fixture — while post-refit both band
    * sets are EXACTLY the 60 shared shingles → guaranteed collision. */
  private val refitCfg = DedupConfig(bands = 2, rows = 64)

  private def driftFixture(dir: String, autoRefitGrowth: Double = 0.0):
      (graft.ops.IncrementalIndex, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val C = (1 to 60).map(w("cc", _))
    val P = (1 to 4).map(w("pp", _))
    val tA = (1 to 6).map(w("ta", _))
    val tB = (1 to 6).map(w("tb", _))
    val batch0 = (1 to 12).map(i =>
      (s"base$i", (1 to 30).map(j => w(s"x${i}y", j)).mkString(" ")))
    val drift = (1 to 12).flatMap { i =>
      Seq((s"da$i", ((1 to 20).map(j => w(s"da${i}z", j)) ++ P ++ tA).mkString(" ")),
          (s"db$i", ((1 to 20).map(j => w(s"db${i}z", j)) ++ P ++ tB).mkString(" ")))
    }
    val docB = ("uB", (C ++ P ++ tB).mkString(" "))
    val idx = new graft.ops.IncrementalIndex(spark, dir, refitCfg, autoRefitGrowth)
    idx.put(batch0.toDF("url", "text"))
    idx.put((drift :+ docB).toDF("url", "text"))
    (idx, Seq(("uA", (C ++ P ++ tA).mkString(" "))).toDF("url", "text"))
  }

  test("IncrementalIndex.refit: a true duplicate missed under stale " +
    "(pre-drift) corpus stats is found after refit") {
    import spark.implicits._
    val (idx, qA) = driftFixture(s"${freshDir()}/idx")
    assert(idx.search(qA).count() === 0,
      "stale stats must miss the boilerplate-tailed pair (fixture sanity)")
    idx.refit()
    val hits = idx.search(qA)
      .select("query_url", "match_url").as[(String, String)].collect().toSet
    assert(hits === Set(("uA", "uB")),
      "refit must recondition the bands so the pair is found")
    // verify fired on the RAW shingle sets (hot excluded from banding,
    // never from verification): jaccard ≈ 60/72
    val j = idx.search(qA).select("jaccard").as[Double].head()
    assert(j > 0.8 && j < 0.9)
  }

  test("autoRefitGrowth: the drift batch trips the growth threshold and " +
    "refits during put — the pair is found with NO manual refit call") {
    import spark.implicits._
    // batch0 fits stats at n=12; the drift batch grows the corpus to 37
    // ≥ 2×12, so put() itself runs the refit
    val (idx, qA) = driftFixture(s"${freshDir()}/idx", autoRefitGrowth = 2.0)
    val hits = idx.search(qA)
      .select("query_url", "match_url").as[(String, String)].collect().toSet
    assert(hits === Set(("uA", "uB")),
      "growth-triggered auto-refit must recondition the bands")
  }

  test("IncrementalIndex.refit on an undrifted corpus: search results " +
    "and pruned layout are byte-identical before and after") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    def doc(p: String) = (1 to 60).map(i =>
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")
    idx.put(Seq(("u1", doc("aa")), ("u2", doc("bb")), ("u3", doc("cc")))
      .toDF("url", "text"))
    val q = Seq(("q1", doc("aa").replace(" aah ", " changed ")))
      .toDF("url", "text")
    val before = idx.search(q)
      .select("query_url", "match_url", "jaccard")
      .as[(String, String, Double)].collect().toSet
    idx.refit()
    val after = idx.search(q)
      .select("query_url", "match_url", "jaccard")
      .as[(String, String, Double)].collect().toSet
    assert(before === after)
    assert(before.map(t => (t._1, t._2)) === Set(("q1", "u1")))
    // the regenerated band layout still serves pruned scans: the query's
    // pb set is pushed to the stored band scan as a Parquet filter
    val sp = idx.searchPlan(q)
    assert(BandLayoutSpec.pushesPbIn(sp, dir),
      s"band layout lost its pb pruning across refit:\n" +
        sp.queryExecution.executedPlan.toString.take(4000))
  }

  test("a refit crash AFTER the marker publish is replayed by the next " +
    "public operation (search serves the refitted state, marker gone)") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val (idx, qA) = driftFixture(dir)
    // simulate refit() crashing right after its atomic marker publish:
    // new stats fitted and landed in stats.refit, NO store rewritten
    val st = DedupPipeline.fitCorpusStats(idx.all(), refitCfg)
    assert(st.hotShingles.nonEmpty, "drift tails must be hot (sanity)")
    Seq((st.n, st.idfTerms.toSeq, st.idfVals.toSeq, st.hotShingles.toSeq))
      .toDF("n", "idf_terms", "idf_vals", "hot_shingles")
      .write.parquet(s"$dir/stats.refit")
    // the next public op must complete the refit BEFORE serving
    val hits = idx.search(qA)
      .select("query_url", "match_url").as[(String, String)].collect().toSet
    assert(hits === Set(("uA", "uB")),
      "pending refit must be replayed before the search runs")
    assert(!Fs.exists(s"$dir/stats.refit", hconf), "marker consumed")
    assert(Fs.exists(s"$dir/stats", hconf))
  }

  test("cross-batch doc_id collision: a planted collision against a " +
    "STORED doc is re-id'd on put, never aliased in search") {
    import spark.implicits._
    def doc(p: String) = (1 to 60).map(i =>
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa"), 7L)).toDF("url", "text", "doc_id"))
    // u2 arrives in a LATER batch claiming u1's id; u3 is clean
    idx.put(Seq(("u2", doc("bb"), 7L), ("u3", doc("cc"), 8L))
      .toDF("url", "text", "doc_id"))
    val ids = idx.all().select("url", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(ids.values.toSet.size === 3, "all stored ids distinct")
    assert(ids("u1") === 7L, "the incumbent keeps its id")
    assert(ids("u3") === 8L, "non-colliding ids unchanged")
    val expected = Seq("u2").toDF("url")
      .select(xxhash64(col("url"), lit(1))).head().getLong(0)
    assert(ids("u2") === expected, "round-salted remap, deterministic")
    // no aliasing: a near-dup of u2's text matches u2, not u1
    val near = doc("bb").replace(" bbh ", " changed ")
    val m = idx.search(Seq(("q", near)).toDF("url", "text"))
      .select("match_url").as[String].collect().toSet
    assert(m === Set("u2"))
    // re-putting the SAME url with the same id is identity, not collision
    idx.put(Seq(("u1", doc("aa"), 7L)).toDF("url", "text", "doc_id"))
    val ids2 = idx.all().select("url", "doc_id")
      .as[(String, Long)].collect().toSet
    assert(ids2.filter(_._1 == "u1").map(_._2) === Set(7L))
  }

  test("IncrementalIndex.search reads only the query's pb partitions " +
    "(PartitionFilters on the band store)") {
    // pb is a sort key of the band files, not a directory partition: the
    // query's pb set reaches the stored band scan as a pushed Parquet
    // filter, and row-group statistics skip the pb ranges it misses
    import spark.implicits._
    import BandLayoutSpec.{doc, tag, withSmallRowGroups}
    val tmp = s"${freshDir()}/idx"
    // a band batch spanning many row groups: 400 unrelated fillers
    // beside u1/u2 (fillers share no token with them or with the query)
    val fillers = (0 until 400).map(i => (s"f$i", doc("x" + tag(i))))
    def index(dir: String, cfg: DedupConfig) = withSmallRowGroups {
      val idx = new graft.ops.IncrementalIndex(spark, dir, cfg)
      idx.put((Seq(("u1", doc("aa")), ("u2", doc("bb"))) ++ fillers).toDF("url", "text"))
      idx.put(Seq(("u3", doc("cc"))).toDF("url", "text"))
      idx
    }
    val idx = index(tmp, DedupConfig())
    val near = doc("aa").replace(" aah ", " changed ")
    val res = idx.search(Seq(("q1", near)).toDF("url", "text"))
    // plan evidence from the LAZY frame: search() itself is snapshot-
    // validated (checkpoint-cut, no scan visible in its plan)
    val plan = idx.searchPlan(Seq(("q1", near)).toDF("url", "text"))
    assert(BandLayoutSpec.pushesPbIn(plan, tmp),
      s"no pb filter pushed to the stored band scan:\n" +
        plan.queryExecution.executedPlan.toString.take(6000))
    // read bound: the band scan outputs only the row groups whose pb
    // range holds a query pb — below the stored band rows
    val planned = plan.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val read = BandLayoutSpec.bandScans(plan, tmp)
      .map(_.metrics("numOutputRows").value).sum
    val stored = spark.read.parquet(s"$tmp/bands").count()
    assert(read > 0 && read < stored, s"band scan read $read of $stored stored rows")
    info(s"band scan read $read of $stored stored band rows")
    val m = res.select("query_url", "match_url")
      .as[(String, String)].collect().toSet
    assert(m === Set(("q1", "u1")))
    assert(planned === m)
    // the same corpus under bandBuckets = 1: the query touches every pb
    // (one per band), so that search carries no pb predicate at all
    val full = s"${freshDir()}/idx"
    val unpruned = index(full, DedupConfig(bandBuckets = 1))
    assert(!BandLayoutSpec.pushesPbIn(
      unpruned.searchPlan(Seq(("q1", near)).toDF("url", "text")), full))
    val um = unpruned.search(Seq(("q1", near)).toDF("url", "text"))
      .select("query_url", "match_url").as[(String, String)].collect().toSet
    assert(m === um, "pruned matches differ from the unpruned search")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.Fs

/** Hardening contracts added after the round-4 review pass: band-layout
  * reconciliation (crashed puts, pre-band-layout stores), the pending-
  * remove marker (no resurrection by a later refit), remap-minted
  * intra-batch id collisions, incumbent pinning, atomic model re-save,
  * query-frame pinning under nondeterministic callers, and the legacy-
  * layout guards.
  */
class Round4HardeningSpec extends AnyFunSuite with SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-r4h-").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def doc(p: String) = (1 to 60).map(i =>
    p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")

  // ---- band-layout reconciliation ----

  test("a put whose band write crashed (signature batch present, band " +
    "batch missing) still serves: search repairs READ-ONLY in-plan, the " +
    "next mutation backfills durably") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa"))).toDF("url", "text"))
    idx.put(Seq(("u2", doc("bb"))).toDF("url", "text"))
    // simulate the crash window between a put's two writes: the band
    // rows of batch 1 vanish while its signature batch stays
    Fs.deleteIfExists(s"$dir/bands/batch=1", hconf)
    val near = doc("bb").replace(" bbh ", " changed ")
    val m = idx.search(Seq(("q", near)).toDF("url", "text"))
      .select("match_url").as[String].collect().toSet
    assert(m === Set("u2"),
      "search must serve the half-written batch from in-plan band rows")
    // search is read-only: it must NOT have taken the writer lease to
    // backfill the missing batch dir
    assert(!Fs.exists(s"$dir/bands/batch=1", hconf),
      "search must not mutate the band store")
    // the next mutation reconciles durably
    idx.put(Seq(("u3", doc("cc"))).toDF("url", "text"))
    assert(Fs.exists(s"$dir/bands/batch=1", hconf),
      "put must backfill the missing band batch")
    val m2 = idx.search(Seq(("q", near)).toDF("url", "text"))
      .select("match_url").as[String].collect().toSet
    assert(m2 === Set("u2"))
  }

  test("BatchStore batch writes are staged + swap-committed: a crashed " +
    "write leaves no partial batch dir, and leftover staging/aside dirs " +
    "are recovered on open, invisible to reads") {
    import spark.implicits._
    val root = s"${freshDir()}/store"
    val st = new graft.ckpt.BatchStore(spark, root)
    st.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    // a crash DURING a later batch write leaves only a staging dir —
    // fabricate one with junk content
    Fs.mkdirs(s"$root/.batch-1.tmp", hconf)
    Fs.writeStringAtomic(s"$root/.batch-1.tmp/garbage", "not parquet", hconf)
    // reads ignore the dot-dir; the batch listing does not count it
    assert(st.all().count() === 2L)
    assert(st.batchIds().toSet === Set(0L))
    // a crash mid-swap (aside renamed, commit rename not yet done):
    // only .batch-0.old + .batch-0.tmp exist — open restores service
    val rows = st.all().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Fs.deleteIfExists(s"$root/.batch-1.tmp", hconf)
    Fs.rename(s"$root/batch=0", s"$root/.batch-0.old", hconf)
    val st2 = new graft.ckpt.BatchStore(spark, root)
    assert(st2.batchIds().toSet === Set(0L), "aside copy restored on open")
    assert(st2.all().collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === rows)
  }

  test("StreamingAnnIngest defaults survive a first micro-batch smaller " +
    "than nCells: the codebook clamps to the data and grows back via " +
    "the default auto-refit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft-sann2").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamingAnnIngest.start(
      spark, stream.toDF().toDF("id", "vec"), tmp) // nCells=256 default
    def vec(i: Long) = graft.data.SyntheticVectors.vectorOf(i, 64).toSeq
    stream.addData((0L until 10L).map(i => (i, vec(i))): _*)   // 10 < 256
    q.processAllAvailable()
    stream.addData((10L until 60L).map(i => (i, vec(i))): _*)  // 6x growth
    q.processAllAvailable()
    q.stop()
    val idx = new graft.ops.IvfIndex(spark, tmp, nCells = 256, nProbe = 8)
    assert(idx.all().count() === 60L)
    // post-refit book is corpus-sized (60 < 256 cells), search works
    val got = idx.search(Seq((999L, vec(2L))).toDF("id", "vec"), 1)
      .as[(Long, Long, Int)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((999L, 2L)))
  }

  test("a pre-band-layout store (no bands dir at all) is upgraded in " +
    "place by the next put — earlier batches stay searchable, pruned") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa")), ("u2", doc("bb"))).toDF("url", "text"))
    // simulate a store written before the band layout existed
    Fs.deleteIfExists(s"$dir/bands", hconf)
    Fs.deleteIfExists(s"$dir/bands.schema.json", hconf)
    val idx2 = new graft.ops.IncrementalIndex(spark, dir)
    idx2.put(Seq(("u3", doc("cc"))).toDF("url", "text"))
    val near = doc("aa").replace(" aah ", " changed ")
    val res = idx2.search(Seq(("q", near)).toDF("url", "text"))
    val m = res.select("match_url").as[String].collect().toSet
    assert(m === Set("u1"),
      "legacy batches must not be dropped from the upgraded layout")
    // plan evidence from the LAZY frame: search() itself is snapshot-
    // validated (checkpoint-cut, no scan visible in its plan)
    val plan = idx2.searchPlan(Seq(("q", near)).toDF("url", "text"))
    assert(BandLayoutSpec.pushesPbIn(plan, dir),
      s"upgraded store must serve the pruned path:\n" +
        plan.queryExecution.executedPlan.toString.take(4000))
  }

  // ---- pending-remove marker ----

  test("a remove that crashed between its two rewrites is replayed — a " +
    "later refit cannot resurrect the half-removed doc") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa")), ("u2", doc("bb"))).toDF("url", "text"))
    // simulate the crash: the remove intent is published (marker) and
    // the band rewrite ran, but the signature rewrite did not
    Seq("u2").toDF("url").write.mode("overwrite")
      .parquet(s"$dir/remove.pending")
    // refit regenerates band rows from the signature store — without
    // the marker replay it would resurrect u2
    idx.refit()
    assert(idx.all().select("url").as[String].collect().toSet === Set("u1"),
      "the pending remove must replay before the refit")
    val near = doc("bb").replace(" bbh ", " changed ")
    assert(idx.search(Seq(("q", near)).toDF("url", "text")).count() === 0,
      "the half-removed doc must never be served again")
    assert(!Fs.exists(s"$dir/remove.pending", hconf), "marker drained")
  }

  // ---- identity audit: remap-minted collisions, incumbent pinning ----

  test("a cross-batch remap that lands on another incoming doc's id is " +
    "re-audited — the two docs are never aliased") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa"), 7L)).toDF("url", "text", "doc_id"))
    // X collides with stored u1; Y already owns X's round-1 remap target
    val xRemap1 = Seq("x").toDF("url")
      .select(xxhash64(col("url"), lit(1))).head().getLong(0)
    idx.put(Seq(("x", doc("bb"), 7L), ("y", doc("cc"), xRemap1))
      .toDF("url", "text", "doc_id"))
    val ids = idx.all().select("url", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(ids.values.toSet.size === 3,
      s"all stored ids must stay distinct, got $ids")
    assert(ids("u1") === 7L, "the incumbent keeps its id")
  }

  test("a stored incumbent's own re-put is never re-idd when a stranger " +
    "collides with it in the same batch (no identity split)") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("aa"), 7L)).toDF("url", "text", "doc_id"))
    idx.put(Seq(("u1", doc("aa"), 7L), ("v", doc("bb"), 7L))
      .toDF("url", "text", "doc_id"))
    val ids = idx.all().select("url", "doc_id")
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).toSet }
    assert(ids("u1") === Set(7L),
      s"u1 must keep one id across its re-put, got ${ids("u1")}")
    assert(ids("v").head !== 7L, "the stranger is the one remapped")
  }

  // ---- atomic model re-save ----

  test("model dir publish is atomic: a crashed re-save (staging left " +
    "behind) never corrupts the committed model; a crash mid-swap is " +
    "completed by load") {
    import spark.implicits._
    import graft.tfidf.TfIdf
    val path = s"${freshDir()}/model"
    val docs = Seq((1L, Seq("a", "b")), (2L, Seq("b", "c"))).toDF("id", "toks")
    val m1 = TfIdf.fit(docs, col("toks"))
    m1.save(path)
    val n1 = TfIdf.TfIdfModel.load(spark, path).numDocs
    // crashed re-save BEFORE the commit point: a partial staging dir
    // sits next to the intact model — the committed model still loads
    Fs.mkdirs(s"$path.swap", hconf)
    Fs.writeStringAtomic(s"$path.swap/model.json", "{GARBAGE", hconf)
    assert(TfIdf.TfIdfModel.load(spark, path).numDocs === n1)
    // crash mid-swap AFTER the aside rename: only staging + aside exist
    // — load completes the commit and serves the NEW model
    val docs2 = docs.union(Seq((3L, Seq("c", "d"))).toDF("id", "toks"))
    Fs.deleteIfExists(s"$path.swap", hconf)
    TfIdf.fit(docs2, col("toks")).save(s"$path.swap")
    Fs.rename(path, s"$path.old", hconf)
    val m3 = TfIdf.TfIdfModel.load(spark, path)
    assert(m3.numDocs === 3L, "the mid-swap publish must be completed")
    assert(!Fs.exists(s"$path.old", hconf), "aside copy drained")
  }

  // ---- query-frame pinning ----

  test("IvfIndex.search evaluates the caller's query frame exactly once " +
    "(the pruning set and the scoring join read one pinned snapshot)") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IvfIndex(spark, dir, nCells = 4, nProbe = 4)
    val vecs = (0L until 40L)
      .map(i => (i, graft.data.SyntheticVectors.vectorOf(i, 64)))
      .toDF("id", "vec")
    idx.put(vecs)
    val acc = spark.sparkContext.longAccumulator("qevals")
    val trace = udf { (id: Long) => acc.add(1L); id }
    val queries = vecs.limit(10).withColumn("id", trace(col("id")))
    val got = idx.search(queries, 1).collect()
    assert(got.length === 10)
    assert(acc.value === 10L,
      s"query frame evaluated ${acc.value} times for 10 rows — the " +
        "pruning set and the served join must read one snapshot")
  }

  // ---- legacy-layout guards ----

  test("ForestIndex refuses a pre-rotation store loudly on put and " +
    "search instead of mixing layouts or raising a bare plan error") {
    import spark.implicits._
    val dir = s"${freshDir()}/fidx"
    // fabricate a legacy store: (id, sig) rows, no rot/k/tb columns
    val legacy = new graft.ckpt.BatchStore(spark, s"$dir/sigs")
    legacy.writeBatch(Seq((1L, 42L)).toDF("id", "sig"), 0L)
    val idx = new graft.lsh.ForestIndex(spark, dir)
    val sigs = Seq((2L, 43L)).toDF("id", "sig")
    val e1 = intercept[IllegalStateException](idx.put(sigs))
    assert(e1.getMessage.contains("serving layout"))
    val e2 = intercept[IllegalStateException](idx.search(sigs, 1))
    assert(e2.getMessage.contains("serving layout"))
  }

  test("IvfIndex with autoRefitGrowth tolerates a codebook written " +
    "before the fit-size sentinel existed (skips auto-refit, no crash)") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IvfIndex(spark, dir, nCells = 4, nProbe = 4,
      autoRefitGrowth = 2.0)
    def vecsOf(r: Range) = r.map(i =>
      (i.toLong, graft.data.SyntheticVectors.vectorOf(i.toLong, 64)))
      .toDF("id", "vec")
    idx.put(vecsOf(0 until 10))
    // strip the sentinel row, simulating the pre-sentinel book format
    val stripped = spark.read.parquet(s"$dir/codebook")
      .filter(col("cell") >= 0).collect()
    Fs.deleteIfExists(s"$dir/codebook", hconf)
    spark.createDataFrame(
        spark.sparkContext.parallelize(stripped.toSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
      .repartition(1).write.parquet(s"$dir/codebook")
    idx.put(vecsOf(10 until 40)) // 4x growth — would trip the knob
    assert(idx.all().count() === 40L)
    val got = idx.search(vecsOf(0 until 2), 1).collect()
    assert(got.nonEmpty)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.ParquetStageStore
import graft.dimred.DimRed
import graft.hash.HashFunctions
import graft.lsh.LshForest
import graft.ops.IncrementalIndex
import graft.tfidf.{TfIdf, Vocabulary}

/** Round-3 contracts: bounded driver footprint of the corpus-stats fit,
  * zero-vector projection semantics, Hadoop-FS portability of the
  * operational surfaces, bucket-pairing null semantics, forest guards,
  * distributed dense-rank correctness at multi-partition scale. */
class Round3Spec extends AnyFunSuite with SparkSpec {

  test("fitCorpusStats: hot-shingle list bounded at cap, hottest kept, " +
    "non-hot band keys unchanged") {
    import spark.implicits._
    val cfg = DedupConfig(hotShingleMinDf = 1, hotShingleDfFrac = 0.1,
      hotShingleCap = 5)
    // 20 docs share a 44-token block -> 40 interior w=5 shingles at df=20;
    // threshold df > max(1, 0.1*21)=2, so 40 shingles are over-threshold,
    // far more than the cap of 5
    // letters-only words: the [\p{L}]+ tokenizer drops digits
    def word(p: String, i: Int) =
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)
    val common = (1 to 44).map(word("common", _)).mkString(" ")
    def uniq(p: String) = (1 to 30).map(word(p, _)).mkString(" ")
    val pages = ((1 to 20).map(i => (s"u$i", common + " " + uniq(s"x$i"))) ++
      Seq(("solo", uniq("zz")))).toDF("url", "text")
    val tfd = DedupPipeline.withTf(DedupPipeline.extract(pages, cfg), cfg)
      .select("url", "doc_id", "tf", "shingles").cache()
    val stats = DedupPipeline.fitCorpusStats(tfd, cfg)
    assert(stats.n === 21)
    assert(stats.hotShingles.length === cfg.hotShingleCap,
      "collected hot set must be exactly the cap when more are over-threshold")
    // exact over-threshold oracle
    val trueHot = tfd.select($"doc_id", explode($"shingles").as("s")).distinct()
      .groupBy("s").count().filter($"count" > 2)
      .select("s").as[Long].collect().toSet
    assert(trueHot.size > cfg.hotShingleCap)
    assert(stats.hotShingles.toSet.subsetOf(trueHot))
    // deterministic tie-break: every over-threshold shingle here has
    // df=20, so the kept 5 are the smallest shingle ids
    assert(stats.hotShingles.toSet === trueHot.toSeq.sorted.take(5).toSet)
    // a doc with no hot shingles must band identically to the unfiltered
    // signature (the drop list only touches hot shingles)
    val got = DedupPipeline.applySignatures(tfd, stats, cfg)
      .filter($"url" === "solo").select($"minhash").head.getSeq[Long](0)
    val want = tfd.filter($"url" === "solo")
      .select(HashFunctions.minhash128($"shingles")).head.getSeq[Long](0)
    assert(got === want)
    tfd.unpersist()
  }

  test("DimRed.project keeps empty-entry and all-OOV docs as zero vectors") {
    import spark.implicits._
    val docs = Seq(
      (1L, Array((0L, 2.0), (1L, 1.0))),
      (2L, Array.empty[(Long, Double)]),
      (3L, Array((99L, 5.0)))) // term 99 not in components
      .toDF("doc_id", "raw")
      .select($"doc_id",
        expr("transform(raw, e -> struct(e._1 as term, e._2 as weight))")
          .as("entries"))
    val comps = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("term", "vec")
    val out = DimRed.project(docs, "doc_id", "entries", comps, 2)
      .as[(Long, Seq[Double])].collect().toMap
    assert(out.keySet === Set(1L, 2L, 3L),
      "no doc may drop out of the projection")
    assert(out(1L) === Seq(2.0, 1.0))
    assert(out(2L) === Seq(0.0, 0.0))
    assert(out(3L) === Seq(0.0, 0.0))
  }

  test("incremental index runs through the Hadoop FS API on a file: URI") {
    import spark.implicits._
    val tmp = "file:" +
      java.nio.file.Files.createTempDirectory("graft-idx-fs").toString
    val idx = new IncrementalIndex(spark, tmp)
    assert(idx.isEmpty)
    def doc(p: String) = (1 to 60).map(i =>
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")
    idx.put(Seq(("u1", doc("aa")), ("u2", doc("bb"))).toDF("url", "text"))
    assert(!idx.isEmpty)
    idx.put(Seq(("u3", doc("cc"))).toDF("url", "text")) // nextBatchId via FS list
    assert(idx.all().count() === 3)
    idx.remove(Seq("u2").toDF("url")) // swap commit via FileSystem.rename
    assert(idx.all().select("url").as[String].collect().toSet === Set("u1", "u3"))
  }

  test("batch store: removing every row leaves a readable, writable store") {
    import spark.implicits._
    def doc(p: String) = (1 to 60).map(i =>
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")
    val tmp = "file:" +
      java.nio.file.Files.createTempDirectory("graft-idx-empty").toString
    val idx = new IncrementalIndex(spark, tmp)
    idx.put(Seq(("u1", doc("aa")), ("u2", doc("bb"))).toDF("url", "text"))
    idx.remove(Seq("u1", "u2").toDF("url"))
    // an emptied store has no parquet footers — reads must use the
    // pinned schema manifest instead of failing schema inference
    assert(idx.all().count() === 0)
    idx.put(Seq(("u3", doc("cc"))).toDF("url", "text"))
    assert(idx.all().select("url").as[String].collect().toSet === Set("u3"))
    val f = new graft.lsh.ForestIndex(spark, "file:" +
      java.nio.file.Files.createTempDirectory("graft-fidx-empty").toString)
    f.put(Seq((1L, 2L), (3L, 4L)).toDF("id", "sig"))
    f.remove(Seq(1L, 3L).toDF("id"))
    assert(f.all().count() === 0)
  }

  test("stage store and model manifests commit through Hadoop FS (file: URI)") {
    import spark.implicits._
    val tmp = "file:" +
      java.nio.file.Files.createTempDirectory("graft-store-fs").toString
    val store = new ParquetStageStore(spark, tmp)
    var computed = 0
    val df = store.stage("s1") { computed += 1; Seq(1, 2).toDF("x") }
    assert(df.count() === 2 && store.isCommitted("s1"))
    val again = store.stage("s1") { computed += 1; Seq(9).toDF("x") }
    assert(computed === 1 && again.count() === 2, "resume must skip compute")
    store.invalidate("s1")
    assert(!store.isCommitted("s1"))
    // model manifest + parquet land on the same filesystem
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val m = TfIdf.fit(docs, split(col("text"), " "))
    m.save(s"$tmp/tfidf")
    val loaded = TfIdf.TfIdfModel.load(spark, s"$tmp/tfidf")
    assert(loaded.numDocs === 2)
    assert(loaded.idf.count() === m.idf.count())
  }

  test("doc-id collision: colliding ids are re-id'd deterministically and " +
    "unrelated docs do NOT co-cluster") {
    import spark.implicits._
    def doc(p: String) = (1 to 60).map(i =>
      p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")
    // two UNRELATED docs forced onto one doc_id via the caller-supplied
    // id column (a genuine xxhash64 collision needs a ~2^32 search;
    // planting the id is equivalent at the pipeline layer)
    val pages = Seq(
      ("u1", doc("aa"), 7L), ("u2", doc("bb"), 7L), ("u3", doc("cc"), 8L))
      .toDF("url", "text", "doc_id")
    val out = DedupPipeline.run(pages, DedupConfig())
    val clusters = out.select("url", "cluster").as[(String, Long)]
      .collect().toMap
    assert(clusters("u1") !== clusters("u2"),
      "docs sharing a collided id must not co-cluster")
    assert(clusters.values.toSet.size === 3)
    // resolution is deterministic (resume / re-run stability)
    val ext = DedupPipeline.extract(pages, DedupConfig())
    val r1 = DedupPipeline.resolveIdCollisions(ext, DedupConfig())
      .select("url", "doc_id").as[(String, Long)].collect().toMap
    val r2 = DedupPipeline.resolveIdCollisions(ext, DedupConfig())
      .select("url", "doc_id").as[(String, Long)].collect().toMap
    assert(r1 === r2)
    assert(r1.values.toSet.size === 3, "all ids distinct after resolution")
    assert(r1("u3") === 8L, "non-colliding ids unchanged")
  }

  test("candidatePairs ignores null rows: they neither pair, take a " +
    "hardCap slot, nor count toward dropAbove") {
    import spark.implicits._
    val rows = Seq[(Option[Long], Option[Long])](
      (Some(3L), Some(4L)), (Some(5L), Some(6L)),
      (None, None), (None, Some(1L)), (Some(1L), None), (Some(0L), None))
    val buckets = rows.toDF("skey", "doc_id")
      .select(lit(0).as("band"), lit(7L).as("key"), col("skey"),
        col("doc_id"))
    val pairs = graft.lsh.Lsh.candidatePairs(buckets, "doc_id", 64, 3,
      hardCap = 2, dropAbove = 2).as[(Long, Long)].collect().toSet
    assert(pairs === Set((4L, 6L)),
      "null rows contribute no pairs and must not count toward dropAbove")
  }

  test("lsh forest: domain guards reject bad prefix/step configs") {
    import spark.implicits._
    val d = Seq((1L, 2L)).toDF("id", "sig")
    intercept[IllegalArgumentException] {
      LshForest.searchTopK(d, "id", d, "id", "sig", 1, minPrefix = 65)
    }
    intercept[IllegalArgumentException] {
      LshForest.searchTopK(d, "id", d, "id", "sig", 1, step = 0)
    }
  }

  test("denseRank: ids equal global sort order across many partitions") {
    import spark.implicits._
    // 5000 rows over 8 range partitions (~625/partition, well past the
    // range sampler's per-partition sample size) — the counts job and
    // the consumer must agree on placement (the localCheckpoint pin)
    val r = new scala.util.Random(7)
    val vals = r.shuffle((0 until 5000).map(i => f"t$i%05d"))
    val df = vals.toDF("k").repartition(16)
    val got = Vocabulary.denseRank(df, col("k"), parts = 8)
      .select("k", "id").as[(String, Long)].collect().toMap
    val want = vals.sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toMap
    assert(got === want)
  }
}

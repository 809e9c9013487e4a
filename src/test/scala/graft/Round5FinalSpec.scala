package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.Fs

/** Round-5 closing review contracts: NaN-component rows are excluded
  * everywhere the zero-norm filter runs (Spark's total ordering makes
  * `NaN =!= 0.0` TRUE, so a zero-only check let a failed-encoder row
  * outrank every real neighbour), cosineNearDup's oversized buckets
  * chain in SIGNATURE order (id-order chaining misses true pairs with
  * probability → 1 as buckets grow — and at n ≫ maxBucket·2^bits EVERY
  * bucket is oversized in EVERY band), the auto-refit confirm backoff
  * is denominated in the bound's currency so a re-put-heavy prefix
  * cannot defer a due refit by a rows multiple, and identity-less
  * search queries fail loudly instead of silently matching nothing. */
class Round5FinalSpec extends AnyFunSuite with SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-r5f-").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def doc(p: String) = (1 to 60).map(i =>
    p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")

  test("a NaN-component vector (failed encoder) is excluded like a " +
    "zero vector: its norm is NaN, NaN =!= 0.0 is TRUE in Spark's " +
    "ordering, and unfiltered it takes rank 1 for EVERY query and " +
    "passes every >= tau threshold") {
    import spark.implicits._
    def vec(i: Long) = graft.data.SyntheticVectors.vectorOf(i, 16).toSeq
    val bad = Float.NaN +: Seq.fill(15)(1.0f)
    // Inf components are the same hole one door over: the norm is Inf
    // (not NaN), isnan alone passes it, and Inf/Inf = NaN downstream
    val inf = Float.PositiveInfinity +: Seq.fill(15)(1.0f)
    val corpus = ((0L until 12L).map(i => (i, vec(i))) ++
      Seq((98L, bad), (97L, inf))).toDF("id", "vec")
    val queries = Seq((1000L, vec(3L)), (1001L, bad)).toDF("id", "vec")
    // the semantics pin: the row really does pass a zero-only filter
    assert(spark.range(1)
      .select((lit(Double.NaN) =!= lit(0.0)).as("v"))
      .head().getBoolean(0),
      "expected Spark NaN ordering: NaN =!= 0.0 must be TRUE")
    val bf = graft.ops.TrainingDataOps
      .bruteForceTopK(corpus, "id", "vec", queries, 3)
      .as[(Long, Long, Int)].collect()
    assert(!bf.exists(r => r._2 == 98L || r._2 == 97L),
      s"NaN/Inf-norm vectors must not be neighbors (got ${bf.mkString(",")})")
    assert(!bf.exists(_._1 == 1001L),
      "a NaN-norm query has no defined neighbors and must emit no rows")
    assert(bf.count(_._1 == 1000L) === 3,
      "the filter must not cost the well-formed query its k results")
    val pairs = graft.ops.TrainingDataOps
      .cosineNearDup(corpus, "id", "vec", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(!pairs.exists(p => p._1 == 98L || p._2 == 98L),
      s"undefined similarity is not a duplicate (got ${pairs.mkString(",")})")
  }

  test("cosineNearDup chains oversized buckets in SIGNATURE order: a " +
    "planted identical pair far apart in id order is still found when " +
    "every band bucket exceeds maxBucket (the 100-TB regime — id-order " +
    "chaining would miss it in ALL bands at once, since id order is " +
    "the same in every band)") {
    import spark.implicits._
    // even seeds only: vectorOf plants (2j, 2j+1) partner pairs, so
    // distinct even seeds give mutually-unrelated cluster bases
    def vec(i: Long) = graft.data.SyntheticVectors.vectorOf(2 * i, 16).toSeq
    // 100 mutually-unrelated vectors; ids 7 and 93 replaced by one
    // identical vector. bits=2 → 4 buckets/band → every bucket holds
    // ~25 ≫ maxBucket=4 members, so NO bucket takes the all-pairs
    // path anywhere: the pair survives only if chain order puts its
    // two rows adjacent, which the identical signature guarantees
    // under skey sort and id order does not (85 ids apart).
    val planted = vec(777L)
    val corpus = (0L until 100L).map(i =>
      (i, if (i == 7L || i == 93L) planted else vec(i)))
      .toDF("id", "vec")
    val pairs = graft.ops.TrainingDataOps
      .cosineNearDup(corpus, "id", "vec", tau = 0.99,
        tables = 2, bits = 2, maxBucket = 4, chainWidth = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((7L, 93L)),
      s"expected exactly the planted pair through chain-only buckets, " +
        s"got ${pairs.mkString(",")}")
  }

  test("auto-refit confirm backoff is denominated in the BOUND's " +
    "currency (growth × fit population), not a rows multiple: a " +
    "re-put-inflated store still refits within growth·atFit puts of " +
    "genuine distinct growth") {
    import spark.implicits._
    val dir = s"${freshDir()}/ivf"
    val idx = new graft.ops.IvfIndex(spark, dir, nCells = 2, nProbe = 2,
      autoRefitGrowth = 2.0)
    def batch(ids: Range) = ids.map(i =>
      (i.toLong, graft.data.SyntheticVectors.vectorOf(i.toLong, 16)))
      .toDF("id", "vec")
    idx.put(batch(0 until 4))          // codebook fitted, atFit = 4
    val bookAt = Fs.modifiedMs(s"$dir/codebook", hconf).get
    // re-put-heavy prefix: rows 4 → 40 while distinct stays 4 — the
    // memo confirms along the way and lands at (d0=4, rows0=40)
    (1 to 9).foreach(_ => idx.put(batch(0 until 4)))
    Thread.sleep(1100)                 // mtime granularity
    assert(Fs.modifiedMs(s"$dir/codebook", hconf).get === bookAt,
      "re-puts of the same identities must not refit")
    // genuine growth: 4 new ids make distinct = 8 ≥ 2×4 — the refit is
    // now DUE. rows = 44 < rows0 + growth·atFit = 48: within the
    // documented at-most-growth·atFit delay window, so not yet…
    idx.put(batch(100 until 104))
    // …and the very next batch crosses the stride at rows = 48. A
    // rows-multiple backoff (rows ≥ growth·rows0 = 80) would defer the
    // due refit for another 32 puts, serving the 4-id codebook to a
    // 12-id corpus the whole time.
    idx.put(batch(104 until 108))
    assert(Fs.modifiedMs(s"$dir/codebook", hconf).get > bookAt,
      "a due refit must land within growth·atFit puts of the distinct " +
        "threshold crossing, regardless of prior re-put row inflation")
  }

  test("lshTopK bucket survivors are the maxBucket SMALLEST by " +
    "(xxhash64(band, id), id) in every band, independent of input " +
    "order and partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // identical vectors share one bucket per band, so every band caps
    // the whole corpus and the query (same vector) reaches exactly the
    // union of the per-band survivors; k covers the corpus. Three rows
    // with a null id ride along: they must not take a survivor's place
    // (their band-1002 key sorts 2nd of the 200, so they would).
    val v = graft.data.SyntheticVectors.vectorOf(42L, 16).toSeq
    val ids: Seq[Long] = 0L until 200L
    val tables = 8
    val expected = (0 until tables).flatMap { t =>
      val band = 1000 + t // Lsh.simhashBandKeys' band ids
      ids.map(id => (XXH64.hashLong(id, XXH64.hashInt(band, 42L)), id))
        .sorted.take(8).map(_._2)
    }.toSet
    assert(expected.size > 8, "bands must keep different survivors")
    val queries = Seq((-1L, v)).toDF("id", "vec")
    for ((order, parts) <- Seq((ids, 37), (ids.reverse, 1),
        (new scala.util.Random(7).shuffle(ids), 5))) {
      val corpus = (order.map(i => (Option(i), v)) ++
          Seq.fill(3)((Option.empty[Long], v)))
        .toDF("id", "vec").repartition(parts)
      val got = graft.ops.TrainingDataOps
        .lshTopK(corpus, "id", "vec", queries, ids.size, tables = tables,
          maxBucket = 8)
        .select("neighbor_id").as[Long].collect()
      assert(got.length === got.toSet.size)
      assert(got.toSet === expected,
        s"survivors must be the 8 smallest per band regardless of layout " +
          s"($parts parts)")
    }
  }

  test("lshTopK decorrelates capped-bucket drops across bands: 40 " +
    "identical vectors with maxBucket=8 still serve top-20 (an " +
    "id-ordered cap would keep the SAME 8 ids in every band and " +
    "starve the query at 8 candidates)") {
    import spark.implicits._
    val v = graft.data.SyntheticVectors.vectorOf(42L, 16).toSeq
    val corpus = (0L until 40L).map(i => (i, v)).toDF("id", "vec")
    val queries = Seq((1000L, v)).toDF("id", "vec")
    val res = graft.ops.TrainingDataOps
      .lshTopK(corpus, "id", "vec", queries, 20, maxBucket = 8)
      .select("neighbor_id").as[Long].collect()
    assert(res.length === 20 && res.toSet.size === 20,
      s"expected 20 distinct neighbors through 8 decorrelated band caps, " +
        s"got ${res.length} (${res.toSet.size} distinct)")
  }

  test("per-band ROTATED chain keys: a near-dup pair whose signatures " +
    "differ in a HIGH bit is still chained adjacent in SOME band (one " +
    "global sig order would sort it far apart in every oversized " +
    "bucket at once)") {
    import spark.implicits._
    import graft.hash.HashKernels.mix64
    val s = mix64(0xfeedL)
    // planted pair: identical but for bit 62 — under a single
    // unrotated sig sort ~1/4 of any bucket's members sort between
    // them; rotl(sig, 8) in band 1 moves the difference to bit 6
    val pair = Seq((7L, s), (93L, s ^ (1L << 62)))
    // 300 fillers, each sharing exactly ONE band key byte with s
    // (band j = i % 8) and random elsewhere: every bucket holding the
    // pair has ~37 ≫ maxBucket=8 members, so all-pairs never runs
    val fillers = (100L until 400L).map { i =>
      val j = (i % 8).toInt
      val m = 0xffL << (8 * j)
      (i, (mix64(i * 31L) & ~m) | (s & m))
    }
    val rows = graft.lsh.Lsh.simhashBandRows(
      (pair ++ fillers).toDF("id", "sig"), "id", col("sig"), 8, 8)
    val pairs = graft.lsh.Lsh
      .candidatePairs(rows, "id", maxBucket = 8, chainWidth = 3)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 93L)),
      "the rotated chain key must sort the high-bit pair adjacent in " +
        "at least one band")
  }

  test("identity-less search queries fail LOUDLY: a null-url page with " +
    "no doc_id would otherwise derive a null qid that never equi-joins " +
    "and silently returns zero matches (the put paths already fail " +
    "loudly via the cross-batch audit)") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(Seq(("u1", doc("a")), ("u2", doc("b"))).toDF("url", "text"))
    // well-formed queries still work (distinct url: self-matches on
    // the same qid are excluded by design)
    assert(idx.search(Seq(("q1", doc("a"))).toDF("url", "text"))
      .count() >= 1L)
    val e = intercept[Exception] {
      idx.search(Seq((null.asInstanceOf[String], doc("a")))
        .toDF("url", "text")).count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("identity-less"),
      s"expected the loud identity-less raise, got:\n$msgs")
  }

  private def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")

  test("null ids fail LOUDLY on the vector indexes too (invariant-33 " +
    "parity with IncrementalIndex): IvfIndex raises on a null put id " +
    "and a null query id; ForestIndex likewise") {
    import spark.implicits._
    def vecs(ids: Seq[java.lang.Long]) = ids.map(i =>
      (i, graft.data.SyntheticVectors.vectorOf(
        Option(i).map(_.toLong).getOrElse(0L), 16))).toDF("id", "vec")
    val ivf = new graft.ops.IvfIndex(spark, s"${freshDir()}/ivf",
      nCells = 2, nProbe = 2)
    val ePut = intercept[Exception] {
      ivf.put(vecs(Seq(1L, null)))
    }
    assert(causeChain(ePut).contains("identity-less"))
    ivf.put(vecs(Seq(1L, 2L, 3L, 4L)))
    val eQ = intercept[Exception] {
      ivf.search(vecs(Seq(null)), 2).count()
    }
    assert(causeChain(eQ).contains("identity-less"))
    import graft.hash.HashKernels.mix64
    val f = new graft.lsh.ForestIndex(spark, s"${freshDir()}/forest",
      prefixBits = 4)
    val eF = intercept[Exception] {
      f.put(Seq((null.asInstanceOf[java.lang.Long], mix64(5L)))
        .toDF("id", "sig"))
    }
    assert(causeChain(eF).contains("identity-less"))
    // the remove surfaces too: a null id/url matches nothing in the
    // anti-join and would silently no-op
    val eR = intercept[Exception] {
      ivf.remove(Seq(null.asInstanceOf[java.lang.Long]).toDF("id"))
    }
    assert(causeChain(eR).contains("identity-less"))
    val inc = new graft.ops.IncrementalIndex(spark, s"${freshDir()}/inc")
    inc.put(Seq(("u1", doc("a"))).toDF("url", "text"))
    val eU = intercept[Exception] {
      inc.remove(Seq(null.asInstanceOf[String]).toDF("url"))
    }
    assert(causeChain(eU).contains("identity-less"))
  }

  test("zero chain widths and caps are rejected at plan time, before " +
    "any job (a zero width divided by zero inside the task; a zero cap " +
    "silently paired nothing)") {
    import spark.implicits._
    val buckets = Seq((1L, 0, 5L), (2L, 0, 5L)).toDF("doc_id", "band", "key")
    val sigs = Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "simhash")
    val vecs = Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec")
    val group = "plan-time-rejection"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val rejected = Seq[(String, () => Any)](
        "chainWidth" -> (() =>
          graft.lsh.Lsh.candidatePairs(buckets, "doc_id", 64, chainWidth = 0)),
        "hardCap" -> (() =>
          graft.lsh.Lsh.candidatePairs(buckets, "doc_id", 64, 3, hardCap = 0)),
        "width" -> (() =>
          graft.lsh.Lsh.simhashNeighborEdges(sigs, "doc_id", "simhash",
            tables = 4, width = 0, maxHamming = 3)),
        "maxBucket" -> (() =>
          graft.ops.TrainingDataOps.lshTopK(vecs, "id", "vec", vecs, 1,
            maxBucket = 0)),
        "chainWidth" -> (() => DedupConfig(chainWidth = 0)))
      for ((name, call) <- rejected) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"$name must be >= 1"), e.getMessage)
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group)
        .isEmpty, "a rejection must not start a Spark job")
    } finally spark.sparkContext.clearJobGroup()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.hash.{HashFunctions, HashKernels}
import graft.text.TextKernel
import graft.tfidf.TfIdf
import org.apache.spark.unsafe.types.UTF8String

class HashKernelsSpec extends AnyFunSuite with SparkSpec {
  import SparkSpec._

  test("murmur3_32 seed 0 matches canonical test vectors (vectorisers.go:261)") {
    def h(s: String): Long =
      HashKernels.murmur3Unsigned(UTF8String.fromString(s))
    // cross-checked against the public murmurhash3 x86_32 spec
    assert(h("hello") === 613153351L) // 0x248BFA47, well-known vector
    assert(h("dog") === 2982218203L)
    assert(h("the") === 3162218338L)
    assert(h("a") === 1009084850L)
    assert(h("laughing") === 3438793594L)
    assert(h("спутник") === 3631544734L) // multi-byte utf-8 + tail path
    assert(h("") === 0L)
  }

  test("hashed TF NNZ matches reference goldens 33/11/21 (vectorisers_test.go:95-98)") {
    import spark.implicits._
    def nnz(docs: Seq[String], features: Int, stop: Seq[String]): Long =
      docs.toDF("text")
        .select(TfIdf.hashedTfEntries(
          TextKernel.dropStopWords(TextKernel.tokenize($"text"), stop),
          features).as("e"))
        .agg(sum(size($"e"))).as[Long].head()
    assert(nnz(testSet, 260000, Nil) === 33L)
    assert(nnz(testSet.take(3), 260000, Nil) === 11L)
    assert(nnz(testSet, 260000, stopWords) === 21L)
  }

  test("minhash estimates Jaccard (property, 128 perms)") {
    val rnd = new scala.util.Random(42)
    var totalErr = 0.0
    val trials = 50
    (0 until trials).foreach { t =>
      val base = Array.fill(200)(rnd.nextLong())
      val keep = 0.3 + 0.6 * rnd.nextDouble()
      val bSet = base.filter(_ => rnd.nextDouble() < keep) ++
        Array.fill(30)(rnd.nextLong())
      val aSet = base
      val inter = aSet.toSet.intersect(bSet.toSet).size.toDouble
      val union = aSet.toSet.union(bSet.toSet).size.toDouble
      val exact = inter / union
      val est = HashKernels.minhashSim(
        HashKernels.minhash(aSet, 128), HashKernels.minhash(bSet, 128))
      totalErr += math.abs(est - exact)
      assert(math.abs(est - exact) < 0.2, s"trial $t: est $est vs exact $exact")
    }
    assert(totalErr / trials < 0.05, s"avg err ${totalErr / trials}")
  }

  test("minhash identical sets -> identical signatures; disjoint -> low sim") {
    val a = Array(1L, 2L, 3L, 4L, 5L)
    assert(HashKernels.minhashSim(
      HashKernels.minhash(a, 128), HashKernels.minhash(a.reverse, 128)) === 1.0)
    val b = Array(100L, 200L, 300L, 400L, 500L)
    assert(HashKernels.minhashSim(
      HashKernels.minhash(a, 128), HashKernels.minhash(b, 128)) < 0.1)
  }

  test("simhash: hamming sim tracks angular sim within 0.03 @1024 bits " +
    "(randomprojection_test.go:54,72-74)") {
    val rnd = new scala.util.Random(0)
    val dim = 100
    val bits = 1024
    val nPairs = 60
    var total = 0.0
    (0 until nPairs).foreach { _ =>
      val a = Array.fill(dim)(rnd.nextGaussian())
      // correlated partner: mix of a and noise
      val mixW = rnd.nextDouble()
      val b = a.map(x => mixW * x + (1 - mixW) * rnd.nextGaussian())
      val ids = Array.tabulate(dim)(_.toLong)
      val sa = HashKernels.simhash(ids, a, bits)
      val sb = HashKernels.simhash(ids, b, bits)
      val ham = HashKernels.hammingSim(sa, sb, bits)
      val cos = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        dot / (na * nb)
      }
      val ang = 1.0 - math.acos(math.min(cos, 1.0)) / math.Pi
      total += math.abs(ham - ang)
    }
    assert(total / nPairs < 0.03, s"avg |ham-ang| = ${total / nPairs}")
  }

  test("simhash self-similarity is exact (randomprojection_test.go:72-74)") {
    val rnd = new scala.util.Random(7)
    val a = Array.fill(50)(rnd.nextGaussian())
    val ids = Array.tabulate(50)(_.toLong)
    val s1 = HashKernels.simhash(ids, a, 1024)
    val s2 = HashKernels.simhash(ids, a, 1024)
    assert(HashKernels.hammingSim(s1, s2, 1024) === 1.0)
  }

  test("one-pass HashedTf / HashedShingles match the builtin formulations") {
    import spark.implicits._
    import graft.text.TextKernel
    val df = testSet.toDF("text")
      .withColumn("tokens", TextKernel.tokenize($"text"))
    // HashedTf vs higher-order hashedTfEntries (cnt type differs: Int)
    val a = df.select(TfIdf.hashedTfEntries($"tokens", 260000).as("e"))
      .selectExpr("transform(e, x -> struct(x.term as term, x.cnt as cnt)) as e")
      .as[Seq[(Long, Int)]].collect()
    val b = df.select(HashFunctions.hashedTf($"tokens", 260000).as("e"))
      .as[Seq[(Long, Int)]].collect()
    assert(a.map(_.toSet).toSeq === b.map(_.toSet).toSeq)
    // HashedShingles vs array_distinct(builtin xxhash64 formulation)
    val c = df.select(array_distinct(
      TextKernel.shingles($"tokens", 5)).as("s")).as[Seq[Long]].collect()
    val d = df.select(HashFunctions.hashedShingles($"tokens", 5).as("s"))
      .as[Seq[Long]].collect()
    assert(c.map(_.toSet).toSeq === d.map(_.toSet).toSeq)
  }

  test("random projection preserves pairwise distance (JL, randomprojection_test.go:95)") {
    val rnd = new scala.util.Random(3)
    val dim = 200
    var total = 0.0
    val trials = 40
    (0 until trials).foreach { _ =>
      val a = Array.fill(dim)(rnd.nextGaussian())
      val b = Array.fill(dim)(rnd.nextGaussian())
      val ids = Array.tabulate(dim)(_.toLong)
      val pa = HashKernels.randomProject(ids, a, 256)
      val pb = HashKernels.randomProject(ids, b, 256)
      def dist(x: Array[Double], y: Array[Double]) =
        math.sqrt(x.zip(y).map { case (u, v) => (u - v) * (u - v) }.sum)
      val ratio = dist(pa, pb) / dist(a, b)
      total += math.abs(1.0 - ratio)
    }
    // reference threshold for RandomProjection similarity drift is 0.05
    assert(total / trials < 0.06, s"avg distance drift ${total / trials}")
  }

  test("simhash bits are the signs of the shared JL hyperplane projection") {
    val rnd = new scala.util.Random(11)
    val ids = Array.tabulate(40)(_.toLong)
    val ws = Array.fill(40)(rnd.nextGaussian())
    val proj = HashKernels.randomProject(ids, ws, 64)
    val sig = HashKernels.simhash64(ids, ws)
    (0 until 64).foreach { b =>
      assert(((sig >>> b) & 1L) === (if (proj(b) >= 0.0) 1L else 0L), s"bit $b")
    }
  }

  test("candidatePairs dropAbove voids a hot bucket spread over 8 " +
    "partitions and keeps the small one") {
    import spark.implicits._
    // 100 members on one key spread over 8 partitions, so the true
    // count is only known after the exchange
    val hot = spark.range(0, 100, 1, 8)
      .select(col("id").as("doc_id"), lit(0).as("band"), lit(7L).as("key"))
    val buckets = hot
      .union(Seq((1000L, 0, 9L), (1001L, 0, 9L)).toDF("doc_id", "band", "key"))
    val pairs = graft.lsh.Lsh.candidatePairs(buckets, "doc_id", 64, 3,
      hardCap = 11, dropAbove = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1000L, 1001L)),
      "hot bucket (df 100 > 10) dropped, small bucket paired")
  }

  test("expressions evaluate inside a DataFrame plan (codegen path)") {
    import spark.implicits._
    val df = Seq(("hello", Seq(1L, 2L, 3L))).toDF("w", "sh")
      .withColumn("m", HashFunctions.murmur3go($"w"))
      .withColumn("sig", HashFunctions.minhash128($"sh"))
      .withColumn("tf", TfIdf.hashedTfEntries(array($"w"), 1 << 18))
    val row = df.select($"m", size($"sig"),
      HashFunctions.simhash64(transform($"tf",
        e => struct(e.getField("term").as("term"),
          e.getField("cnt").cast("double").as("weight"))))).head()
    assert(row.getLong(0) === 613153351L)
    assert(row.getInt(1) === 128)
    // simhash of a 1-term doc is deterministic
    assert(row.getLong(2) === {
      val tid = 613153351L % (1 << 18)
      HashKernels.simhash64(Array(tid), Array(1.0))
    })
  }
}

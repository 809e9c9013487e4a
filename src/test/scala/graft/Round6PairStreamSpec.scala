package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * A/B: the streaming candidatePairs (repartition + sort + PairStream)
 * must produce EXACTLY the pair set of a plain-Scala statement of the
 * bucket rules on adversarial bucket shapes — singletons, all-pairs
 * buckets, over-maxBucket chains, over-hardCap truncation,
 * over-dropAbove voiding, skey ties, duplicate ids, null skeys and ids.
 */
class Round6PairStreamSpec extends AnyFunSuite with SparkSpec {

  private type Row = (Option[Long], Int, Long, Option[Long])

  /** The bucket rules over collected (doc_id, band, key, skey) rows: per
    * (band, key) bucket, null rows are ignored, members sort by
    * (skey, id), a bucket over `dropAbove` members pairs nothing, the
    * first `hardCap` members participate, and ≤ maxBucket participants
    * pair all-to-all while more pair each with its next `chainWidth`. */
  private def oraclePairs(rows: Seq[Row], maxBucket: Int, chainWidth: Int,
                          hardCap: Int, dropAbove: Int): Set[(Long, Long)] =
    rows.collect { case (Some(id), band, key, Some(skey)) =>
        ((band, key), (skey, id)) }
      .groupBy(_._1).values.flatMap { bucket =>
        val members = bucket.map(_._2).sorted
        if (members.size > dropAbove) Nil
        else {
          val ids = members.take(hardCap).map(_._2)
          val reach = if (ids.size <= maxBucket) ids.size else chainWidth
          for {
            i <- ids.indices
            j <- i + 1 to math.min(i + reach, ids.size - 1)
            if ids(i) != ids(j)
          } yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
        }
      }.toSet

  private def fixture(seed: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    // (doc_id, band, key, skey)
    // bucket A: singleton; B: 3 members (all-pairs); C: 12 members
    // (> maxBucket=8 -> chain); D: 40 members (> hardCap=20 truncation);
    // E: 30 members with dropAbove voiding; ties and duplicate ids mixed in
    def bucket(band: Int, key: Long, n: Int, tieEvery: Int = 0,
               dupIds: Boolean = false): Unit =
      (0 until n).foreach { i =>
        val id = if (dupIds && i % 7 == 3) 1000L + i - 1 else 1000L + i
        val skey = if (tieEvery > 0 && i % tieEvery == 0) 5L
                   else rnd.nextLong()
        rows += ((Some(id), band, key, Some(skey)))
      }
    // rows with a null skey or id: they must neither pair nor count, so
    // they may not void F (exactly 25 = dropAbove real members), take
    // one of D's or F's hardCap slots (a null skey sorts first), or
    // pair with B's members
    def nulls(band: Int, key: Long): Unit = {
      rows += ((None, band, key, Some(rnd.nextLong())))
      rows += ((Some(5000L + rows.size), band, key, None))
      rows += ((None, band, key, None))
    }
    bucket(0, 1L, 1)
    bucket(0, 2L, 3)
    bucket(1, 3L, 12, tieEvery = 3)
    bucket(1, 4L, 40, dupIds = true)
    bucket(2, 5L, 30, tieEvery = 2)
    bucket(3, 6L, 25)
    nulls(0, 2L)
    nulls(1, 4L)
    nulls(3, 6L)
    nulls(3, 7L) // a bucket of null rows only
    rnd.shuffle(rows.toSeq)
  }

  test("streaming candidatePairs == a plain-Scala bucket oracle on " +
    "adversarial buckets (caps, chains, voiding, ties, duplicate ids, " +
    "null rows)") {
    import spark.implicits._
    val rows = fixture(42)
    val df = rows.toDF("doc_id", "band", "key", "skey")
    for ((maxBucket, chainWidth, hardCap, dropAbove) <- Seq(
        (8, 3, Int.MaxValue, Int.MaxValue),
        (8, 3, 20, Int.MaxValue),
        (8, 2, 20, 25),          // E (30) and D (40) voided, F (25) kept
        (64, 3, 100000, 1024),   // the pipeline/substr defaults
        (2, 1, 5, Int.MaxValue))) {
      val now = graft.lsh.Lsh.candidatePairs(df, "doc_id", maxBucket,
        chainWidth, hardCap, dropAbove)
        .as[(Long, Long)].collect().toSet
      val want = oraclePairs(rows, maxBucket, chainWidth, hardCap, dropAbove)
      assert(now === want,
        s"cfg=($maxBucket,$chainWidth,$hardCap,$dropAbove): " +
          s"only-stream=${(now -- want).take(5)} " +
          s"only-oracle=${(want -- now).take(5)}")
    }
  }

  test("streaming candidatePairs result is partitioning-invariant") {
    import spark.implicits._
    val df1 = fixture(7).toDF("doc_id", "band", "key", "skey").repartition(1)
    val df7 = fixture(7).toDF("doc_id", "band", "key", "skey").repartition(7)
    val a = graft.lsh.Lsh.candidatePairs(df1, "doc_id", 8, 3, 20, 25)
      .as[(Long, Long)].collect().toSet
    val b = graft.lsh.Lsh.candidatePairs(df7, "doc_id", 8, 3, 20, 25)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }
}

package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.Fs

/** The IncrementalIndex band store layout: each batch's band rows are
  * plain Parquet files sorted by (pb, key) — pb is read through Parquet
  * statistics pushdown, not as a `pb=` directory partition. The order
  * survives every rewrite, a legacy `pb=` store is searched as it is and
  * upgraded by its first mutation, and neither a put nor a search pays a
  * per-pb file or listing cost. */
class BandLayoutSpec extends AnyFunSuite with SparkSpec {
  import BandLayoutSpec._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-bands-").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/idx"
  }

  private def pages(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "text")
  }

  private def urls(df: DataFrame): Set[(String, String)] = {
    import spark.implicits._
    df.select("query_url", "match_url").as[(String, String)].collect().toSet
  }

  /** Rewrites the band store of index `dir` into the legacy layout:
    * partitioned by (batch, pb) with plain Spark. */
  private def toLegacyLayout(dir: String): Unit = {
    val tmp = s"$dir/bands.legacy"
    spark.read.parquet(s"$dir/bands").write.partitionBy("batch", "pb").parquet(tmp)
    Fs.deleteIfExists(s"$dir/bands", hconf)
    Fs.rename(tmp, s"$dir/bands", hconf)
  }

  /** `pb=` directories under the batch dirs of index `dir`'s band store. */
  private def pbDirs(dir: String): Int =
    Fs.listNames(s"$dir/bands", hconf).filter(_.startsWith("batch="))
      .map(b => Fs.listNames(s"$dir/bands/$b", hconf).count(_.startsWith("pb=")))
      .sum

  /** Relative paths of every file under `root`. */
  private def tree(root: String): Set[String] = {
    val p = new Path(root)
    val it = p.getFileSystem(hconf).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toUri.getPath)
      .map(_.stripPrefix(root)).toSet
  }

  /** Parquet data files of index `dir`'s band store. */
  private def bandFiles(dir: String): Seq[String] =
    tree(s"$dir/bands").toSeq.filter(_.endsWith(".parquet")).map(f => s"$dir/bands$f")

  /** (min, max) pb of each row group of a Parquet file, in file order. */
  private def rowGroupPbRanges(file: String): Seq[(Int, Int)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), hconf))
    try r.getFooter.getBlocks.asScala.toSeq.map { b =>
      val st = b.getColumns.asScala.find(_.getPath.toDotString == "pb").get.getStatistics
      (st.genericGetMin.asInstanceOf[Int], st.genericGetMax.asInstanceOf[Int])
    } finally r.close()
  }

  /** Every band file is sorted by (pb, key): its rows read back in order,
    * and its row-group pb ranges are non-decreasing. Returns the number
    * of row groups of the largest file. */
  private def assertBandsSorted(dir: String, when: String): Int = {
    val files = bandFiles(dir)
    assert(files.nonEmpty, s"$when: no band files")
    files.map { f =>
      val rows = spark.read.parquet(f).select("pb", "key").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      val unsorted = rows.indices.drop(1).find(i => Ordering[(Int, Long)].lt(rows(i), rows(i - 1)))
      assert(unsorted.isEmpty, s"$when: $f is not sorted by (pb, key) at row ${unsorted.getOrElse(0)}")
      val ranges = rowGroupPbRanges(f)
      ranges.sliding(2).foreach {
        case Seq((lo0, hi0), (lo1, hi1)) =>
          assert(lo0 <= hi0 && hi0 <= lo1 && lo1 <= hi1,
            s"$when: row-group pb ranges of $f decrease: $ranges")
        case _ => ()
      }
      ranges.length
    }.max
  }

  test("a legacy pb= band store is searched read-only as it is, and its " +
    "first put regenerates it in the sorted layout") {
    val dir = freshDir()
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    idx.put(pages(("u1", doc("aa")), ("u2", doc("bb"))))
    idx.put(pages(("u3", doc("cc"))))
    val q = pages(("q", doc("aa").replace(" aah ", " changed ")))
    val expected = urls(idx.search(q))
    assert(expected === Set(("q", "u1")))
    toLegacyLayout(dir)
    assert(pbDirs(dir) > 0, "fixture sanity: the legacy tree has pb= dirs")
    val legacyTree = tree(s"$dir/bands")
    val idx2 = new graft.ops.IncrementalIndex(spark, dir)
    assert(urls(idx2.search(q)) === expected,
      "a legacy store must serve the same matches before its upgrade")
    assert(tree(s"$dir/bands") === legacyTree, "search must not mutate the band store")
    idx2.put(pages(("u4", doc("dd"))))
    assert(pbDirs(dir) === 0, "the first put must upgrade the whole band store")
    assert(Fs.listNames(s"$dir/bands", hconf).filter(_.startsWith("batch=")).toSet ===
      Set("batch=0", "batch=1", "batch=2"))
    assertBandsSorted(dir, "after the upgrade")
    assert(urls(idx2.search(q)) === expected)
    assert(spark.read.parquet(s"$dir/bands").count() === 4L * DedupConfig().bands)
  }

  test("every mutation upgrades a legacy band store before it writes: " +
    "putBatch, compact, refit and remove") {
    val mutations: Seq[(String, graft.ops.IncrementalIndex => Unit)] = Seq(
      "putBatch" -> (_.putBatch(pages(("u4", doc("dd"))), 7L)),
      "compact" -> (_.compact(1L)),
      "refit" -> (_.refit()),
      "remove" -> (_.remove(pages(("u2", "")).select("url"))))
    mutations.foreach { case (name, mutate) =>
      val dir = freshDir()
      val idx = new graft.ops.IncrementalIndex(spark, dir)
      idx.put(pages(("u1", doc("aa")), ("u2", doc("bb"))))
      idx.put(pages(("u3", doc("cc"))))
      toLegacyLayout(dir)
      mutate(new graft.ops.IncrementalIndex(spark, dir))
      assert(pbDirs(dir) === 0, s"$name left pb= directories behind")
      assertBandsSorted(dir, s"after $name")
      val q = pages(("q", doc("aa").replace(" aah ", " changed ")),
        ("r", doc("cc").replace(" cch ", " changed ")))
      assert(urls(new graft.ops.IncrementalIndex(spark, dir).search(q)) ===
        Set(("q", "u1"), ("r", "u3")), s"search after $name")
    }
  }

  test("band rewrites keep the (pb, key) order: after compact, refit and " +
    "remove every band file's row-group pb ranges are non-decreasing") {
    val dir = freshDir()
    withSmallRowGroups {
      val idx = new graft.ops.IncrementalIndex(spark, dir)
      idx.put(pages((0 until 40).map(i => (s"a$i", doc(tag(i)))): _*))
      idx.put(pages((40 until 80).map(i => (s"a$i", doc(tag(i)))): _*))
      idx.put(pages((80 until 90).map(i => (s"a$i", doc(tag(i)))): _*))
      assertBandsSorted(dir, "after put")
      idx.compact(1L)
      assert(assertBandsSorted(dir, "after compact") > 1,
        "fixture sanity: a compacted band file spans several row groups")
      idx.refit()
      assert(assertBandsSorted(dir, "after refit") > 1)
      idx.remove(pages(("a3", ""), ("a50", "")).select("url"))
      assertBandsSorted(dir, "after remove")
    }
    val q = pages(("q", doc(tag(7)).replace(" " + tag(7) + "h ", " changed ")))
    assert(urls(new graft.ops.IncrementalIndex(spark, dir).search(q)) === Set(("q", "a7")))
  }

  test("a 4-page putBatch writes a band file count that does not depend " +
    "on bands × bandBuckets") {
    val batch = pages((0 until 4).map(i => (s"p$i", doc(tag(i)))): _*)
    val counts = Seq(64, 4).map { buckets =>
      val dir = freshDir()
      val idx = new graft.ops.IncrementalIndex(spark, dir, DedupConfig(bandBuckets = buckets))
      idx.putBatch(batch, 0L)
      assert(pbDirs(dir) === 0)
      tree(s"$dir/bands/batch=0").size
    }
    assert(counts.distinct.length === 1,
      s"band files per batch change with the pb domain: $counts")
    // parquet parts + their checksums + _SUCCESS (+ checksum): one part
    // per write task at most, never one per pb value
    assert(counts.head <= 2 * spark.sparkContext.defaultParallelism + 2, s"$counts")
  }

  test("a search over 3 stored batches starts no partition-listing job") {
    val dir = freshDir()
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    (0 until 3).foreach { b =>
      idx.putBatch(pages((0 until 4).map(i => (s"p$b-$i", doc(tag(4 * b + i)))): _*), b.toLong)
    }
    val q = pages(("q", doc(tag(5)).replace(" " + tag(5) + "h ", " changed ")))
    val jobs = jobDescriptions(spark) {
      assert(urls(idx.search(q)) === Set(("q", "p1-1")))
    }
    assert(jobs.nonEmpty, "listener sanity: the search ran jobs")
    val listing = jobs.filter(_.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, s"search listed partitions in a Spark job: $listing")
    // the same probe sees the listing job of the legacy pb= layout
    toLegacyLayout(dir)
    val legacy = jobDescriptions(spark) {
      assert(urls(new graft.ops.IncrementalIndex(spark, dir).search(q)) === Set(("q", "p1-1")))
    }
    assert(legacy.exists(_.startsWith("Listing leaf files and directories")),
      s"probe sanity: the legacy layout's search lists pb= dirs in a job: $legacy")
  }
}

object BandLayoutSpec extends AdaptiveSparkPlanHelper {
  def doc(p: String): String = (1 to 60).map(i =>
    p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")

  /** A letters-only token prefix for document `i` (the tokenizer drops
    * digits, so distinct documents need distinct letter prefixes). */
  def tag(i: Int): String = {
    val a = ('a' + i % 26).toChar
    val b = ('a' + i / 26 % 26).toChar
    s"z$b$a"
  }

  /** Runs `body` with Parquet row groups of ~100 rows (the writer's
    * first size check), so a small band batch spans several. */
  def withSmallRowGroups[T](body: => T): T = {
    val s = SparkSpec.session
    s.conf.set("parquet.block.size", "1024")
    try body finally s.conf.unset("parquet.block.size")
  }

  /** Band-store file scans of index `dir` in `df`'s executed plan. */
  def bandScans(df: DataFrame, dir: String): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toUri.getPath.stripSuffix("/") == s"$dir/bands") => s
    }

  /** Whether a band scan of index `dir` carries a pushed `pb IN` filter. */
  def pushesPbIn(df: DataFrame, dir: String): Boolean =
    bandScans(df, dir).exists(_.metadata.get("PushedFilters").exists(_.contains("In(pb,")))

  /** Descriptions of the Spark jobs `body` starts. A marker job run after
    * `body` bounds the wait: listener events arrive in order. */
  def jobDescriptions(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"band-layout-marker-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try spark.range(1).collect() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.asScala.toSeq.filterNot(_ == marker)
    } finally sc.removeSparkListener(l)
  }
}

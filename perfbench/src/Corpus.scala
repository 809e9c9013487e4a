package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.data.SyntheticPages

/**
 * Seeded page generator owned by the benchmark. Every field of every
 * page is a pure function of (seed, row), so generation is distributed
 * (`spark.range` + map) and the same seed always gives the same corpus.
 *
 * Text builds on the library's index-pure `SyntheticPages.baseText`
 * (every third token, at a seed-salted index) interleaved with words
 * drawn from a Zipfian vocabulary of [[VocabSize]] words. The vocabulary
 * is larger than the 2^15-slot per-term Gaussian cache of the SimHash
 * kernel, so the signature stage sees cache misses as a web corpus
 * would, and one word in 37 carries a non-ASCII letter.
 *
 * The program only ever sees `(url, text)`. Each page's planted origin
 * (the page it was copied from, or itself) stays here and drives the
 * correctness checks.
 */
object Corpus {
  val VocabSize = 60000

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ b)
  private def pick(x: Long, n: Int): Int = ((x >>> 1) % n).toInt

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "de", "po", "ga", "shi", "ber", "tan", "qu", "zo", "lin", "mar", "ob",
    "fe", "hu", "wy", "cre", "dal")
  private val accents = Array("é", "ü", "ñ", "ø", "ß", "ж", "λ", "å")

  /** Word `k` of the vocabulary: the base-24 syllable spelling of k + 1
    * (injective), one word in 37 with a non-ASCII final letter. */
  def word(k: Int): String = {
    val sb = new StringBuilder
    var x = k + 1
    while (x > 0) { sb.append(syllables(x % syllables.length)); x /= syllables.length }
    if (k % 37 == 5) sb.append(accents(k % accents.length))
    sb.toString
  }

  private lazy val words: Array[String] = Array.tabulate(VocabSize)(word)
  /** Zipf(s = 1) cumulative weights over the vocabulary ranks. */
  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def zipfWord(x: Long): String = {
    val u = (x >>> 11) * 1.1102230246251565e-16
    var lo = 0; var hi = VocabSize - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    words(lo)
  }

  /** Tokens of a fresh document `doc` of `len` tokens. */
  def freshTokens(seed: Long, doc: Long, len: Int): Array[String] = {
    val skeleton = SyntheticPages.baseText(h(seed, doc, 0x5eed), (len + 2) / 3).split(" ")
    Array.tabulate(len)(p =>
      if (p % 3 == 0) skeleton(p / 3) else zipfWord(h(seed, doc, p)))
  }

  /** `tokens` with 1–3 tokens replaced by Zipfian words. */
  def edited(seed: Long, salt: Long, tokens: Array[String]): Array[String] = {
    val t = tokens.clone()
    val n = 1 + pick(h(seed, salt, 1), 3)
    (0 until n).foreach { e =>
      t(pick(h(seed, salt, 10 + e), t.length)) = zipfWord(h(seed, salt, 20 + e))
    }
    t
  }

  /** The shared boilerplate paragraph, appended to every 20th fresh page. */
  private def boilerplate(seed: Long): String =
    freshTokens(seed, -1L, 120).mkString(" ")
  private def withBoiler(seed: Long, doc: Long, text: String): String =
    if ((doc + pick(h(seed, 0xb0b0), 20)) % 20 == 0) text + " " + boilerplate(seed) else text

  final case class Page(url: String, text: String)

  /**
   * Batch corpus (crawl_dedup, template_family): `n` fresh pages (40–119
   * tokens, 5% with the boilerplate paragraph), then 5% exact copies,
   * 5% near copies (1–3 token edits) and 2% substring pages (a 60-token
   * run of a fresh page between unrelated text), as `SyntheticPages`
   * plants them. `family` adds one 150-token template and `family - 1`
   * pages that are 1–3 token edits of it.
   */
  final case class Batch(seed: Long, n: Int, family: Int) {
    val nExact: Int = n / 20
    val nNear: Int = n / 20
    val nSub: Int = n / 50
    private val sExact = n.toLong
    private val sNear = sExact + nExact
    private val sSub = sNear + nNear
    private val sFam = sSub + nSub
    val total: Long = sFam + family

    private def url(row: Long, tag: String) =
      s"https://www.site${pick(h(seed, row, 0x51e), 997)}.example/$tag/$seed-$row"
    def urlOf(row: Long): String =
      if (row < sExact) url(row, "p") else if (row < sNear) url(row, "x")
      else if (row < sSub) url(row, "n") else if (row < sFam) url(row, "s")
      else url(row, "f")

    private def freshText(i: Long): String =
      withBoiler(seed, i, freshTokens(seed, i, 40 + pick(h(seed, i, 0x1e4), 80)).mkString(" "))
    private lazy val template = freshTokens(seed, -2L, 150)

    def textOf(row: Long): String =
      if (row < sExact) freshText(row)
      else if (row < sNear) freshText(row - sExact)
      else if (row < sSub) {
        val j = row - sNear
        edited(seed, row, freshText(nExact + j).split(" ")).mkString(" ")
      } else if (row < sFam) {
        val j = row - sSub
        val run = freshText(nExact + nNear + j).split(" ").take(60).mkString(" ")
        freshTokens(seed, total + 2 * j, 30).mkString(" ") + " " + run + " " +
          freshTokens(seed, total + 2 * j + 1, 30).mkString(" ")
      } else if (row == sFam) template.mkString(" ")
      else edited(seed, row, template).mkString(" ")

    /** Row of the page this row was planted from (itself for a fresh page). */
    def originOf(row: Long): Long =
      if (row < sExact) row
      else if (row < sNear) row - sExact
      else if (row < sSub) nExact + (row - sNear)
      else if (row < sFam) nExact + nNear + (row - sSub)
      else sFam

    def pages(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val b = this
      spark.range(0, total, 1, spark.sparkContext.defaultParallelism)
        .as[Long].map(r => Page(b.urlOf(r), b.textOf(r))).toDF()
    }
  }

  /**
   * Streaming corpus: batch 0 of `base` pages, then batches 1, 2, … of
   * `size` pages. Pages are 140–239 tokens (every 20th with the boilerplate
   * paragraph); one page in 20 of each micro-batch (at least one) is a
   * 1–3 token edit of an earlier page of an earlier batch or of the
   * same batch. At this length three
   * edits keep the shingle Jaccard of a copy and its source at or above
   * the default τ = 0.8, so every planted copy is a match that `search`
   * is meant to return.
   */
  final case class Stream(seed: Long, base: Int, size: Int) {
    private def global(batch: Int, j: Int): Long =
      if (batch == 0) j.toLong else base.toLong + (batch - 1).toLong * size + j
    private def locate(g: Long): (Int, Int) =
      if (g < base) (0, g.toInt)
      else (1 + ((g - base) / size).toInt, ((g - base) % size).toInt)

    def batchSize(batch: Int): Int = if (batch == 0) base else size
    def url(batch: Int, j: Int): String =
      s"https://stream${pick(h(seed, global(batch, j), 0x51e), 97)}.example/b$batch/$seed-$j"
    /** Earlier global row this page copies, if it is a planted copy. */
    def sourceOf(batch: Int, j: Int): Option[Long] = {
      val g = global(batch, j)
      if (batch == 0 || j % 20 != pick(h(seed, batch, 0xc0b1), math.min(20, size))) None
      else Some((h(seed, g, 0x50c) >>> 1) % g)
    }
    private def textAt(g: Long): String = {
      val (batch, j) = locate(g)
      sourceOf(batch, j) match {
        case Some(src) => edited(seed, g, textAt(src).split(" ")).mkString(" ")
        case None => withBoiler(seed, g,
          freshTokens(seed, g, 140 + pick(h(seed, g, 0x1e4), 100)).mkString(" "))
      }
    }
    def text(batch: Int, j: Int): String = textAt(global(batch, j))
    private def originOf(g: Long): Long = {
      val (batch, j) = locate(g)
      sourceOf(batch, j).map(originOf).getOrElse(g)
    }
    /** Global row of the fresh page that page `j` of `batch` derives from. */
    def origin(batch: Int, j: Int): Long = originOf(global(batch, j))
    def urlOfGlobal(g: Long): String = { val (b, j) = locate(g); url(b, j) }

    def pages(spark: SparkSession, batch: Int): DataFrame = {
      import spark.implicits._
      val s = this
      spark.range(0, batchSize(batch), 1, spark.sparkContext.defaultParallelism)
        .as[Long].map(j => Page(s.url(batch, j.toInt), s.text(batch, j.toInt))).toDF()
    }
  }
}

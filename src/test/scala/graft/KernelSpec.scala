package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.scalatest.funsuite.AnyFunSuite
import graft.hash.{HashFunctions => H, ShingleFunctions => S}
import graft.text.{GoLower, GoTokens, TokenStats}
import graft.verify.VectorFunctions

/**
 * The kernels as Spark's builtin StaticInvoke: the interpreted path
 * (reflection over the argument classes) computes what the generated
 * code does, and the SQL registry rejects wrong-typed calls while
 * analysing, before any job.
 */
class KernelSpec extends AnyFunSuite with SparkSpec {

  private def pages: DataFrame =
    graft.data.SyntheticPages.generate(spark, 300)._1.select("url", "text")

  /** Per kernel, the xxhash64 of its value on every page, by url. */
  private def digests(drop: Array[Long], terms: Array[Long],
                      idfs: Array[Double]): Map[String, Seq[Long]] = {
    val ks = KernelSpec.kernels(drop, terms, idfs)
    val rows = pages
      .select(col("url") +: ks.map { case (n, k) => xxhash64(k).as(n) }: _*)
      .orderBy("url").collect()
    ks.map(_._1).zipWithIndex.map { case (n, i) =>
      n -> rows.map(_.getLong(i + 1)).toSeq
    }.toMap
  }

  test("every Column-API kernel gives the same values generated and " +
    "interpreted (NO_CODEGEN, no whole-stage codegen)") {
    import spark.implicits._
    val sh = pages.select(H.hashedShingles(GoTokens.gotokens($"text"), 5))
      .as[Seq[Long]].head(3).flatten
    val drop = sh.distinct.sorted.toArray
    val allTerms = pages
      .select(explode(H.hashedTf(GoTokens.gotokens($"text"), 1 << 18)
        .getField("term"))).distinct().as[Long].collect().sorted
    // every other term: absent terms weigh 0 in the kernel
    val terms = allTerms.zipWithIndex.collect { case (t, i) if i % 2 == 0 => t }
    val idfs = terms.indices.map(i => 1.0 + (i % 5) * 0.5).toArray
    assert(drop.nonEmpty && terms.nonEmpty)

    val generated = digests(drop, terms, idfs)
    val conf = spark.conf
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted =
      try digests(drop, terms, idfs)
      finally {
        conf.unset("spark.sql.codegen.factoryMode")
        conf.unset("spark.sql.codegen.wholeStage")
      }
    assert(generated.keySet === interpreted.keySet)
    generated.foreach { case (n, d) =>
      assert(d.nonEmpty && d === interpreted(n), s"kernel $n")
    }
  }

  test("every registered SQL name rejects a wrong-typed argument with an " +
    "AnalysisException before any job starts") {
    GraftFunctions.register(spark)
    spark.range(2).selectExpr("cast(id as string) AS s", "array('x') AS a")
      .createOrReplaceTempView("kernel_args")
    val group = "sql-type-rejection"
    spark.sparkContext.setJobGroup(group, group)
    try {
      def rejected(q: String, condition: String): Unit = {
        val e = intercept[AnalysisException](spark.sql(q))
        assert(e.getCondition.startsWith(condition), s"$q: ${e.getMessage}")
      }
      for ((name, kernel, fixed) <- GraftFunctions.functions) {
        val params = kernel.inputTypes.dropRight(fixed.length)
        // the first argument gets the wrong type, the rest a right one
        val wrong = params.head match {
          case ArrayType | _: ArrayType => "s"
          case _ => "a"
        }
        val rest = params.tail.map {
          case _: ArrayType => "array(1L)"
          case t: DataType => s"cast(1 AS ${t.simpleString})"
        }
        rejected(s"SELECT $name(${(wrong +: rest).mkString(", ")}) " +
          "FROM kernel_args", "DATATYPE_MISMATCH")
      }
      // a constant argument is rejected too, not thrown at while folding
      rejected("SELECT minhash128('abc')", "DATATYPE_MISMATCH")
      rejected("SELECT minhashk(array(1L))", "WRONG_NUM_ARGS")
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group)
        .isEmpty, "a rejection must not start a Spark job")
    } finally spark.sparkContext.clearJobGroup()
  }
}

object KernelSpec {

  /** Every Column-API kernel over a `text` column, each fed the way the
    * pipeline feeds it (tokens → shingles → MinHash, tf → SimHash, …),
    * with no higher-order function in between. */
  def kernels(drop: Array[Long], terms: Array[Long],
              idfs: Array[Double]): Seq[(String, Column)] = {
    val text = col("text")
    val toks = GoTokens.gotokens(text)
    val sh = H.hashedShingles(toks, 5)
    val tf = H.hashedTf(toks, 1 << 18)
    val entries = arrays_zip(tf.getField("term"),
      tf.getField("cnt").cast("array<double>"))
    val key = H.murmur3go(text)
    val w = length(text).cast("double")
    val dense = H.randomProject(entries, 8)
    val sparse = H.sparseRandomProject(entries, 8, 0.5)
    val strs = S.stringShingles(toks, 3)
    val codebook = Array.tabulate(4 * 8)(i => if (i % 9 == 0) 1.0 else 0.0)
    Seq(
      "golower" -> GoLower.golower(text),
      "gotokens" -> toks,
      "murmur3go" -> key,
      "hashed_shingles" -> sh,
      "filter_not_in" -> H.filterNotIn(sh, drop),
      "minhash128" -> H.minhash128(H.filterNotIn(sh, drop)),
      "minhash16" -> H.minhashK(sh, 16),
      "hashed_tf" -> tf,
      "simhash64" -> H.simhash64(entries),
      "simhash64idf" -> H.simhash64idf(tf, terms, idfs),
      "winnow" -> H.winnow(text, 5, 4),
      "winnow_ctx" -> H.winnowCtx(text, 5, 4),
      "random_project" -> dense,
      "sparse_random_project" -> sparse,
      "gaussian_sketch" -> H.gaussianSketch(key, w, 4),
      "elemental" -> H.elementalScaled(key, w, 16, 0.25),
      "string_shingles" -> strs,
      "string_shingle_count" -> S.stringShingleCount(toks, 3),
      "token_windows" -> S.tokenWindows(toks, 3),
      "md5_prefix60" -> S.md5Prefix60(strs),
      "sum_str_lens" -> TokenStats.sumStrLens(toks),
      "count_in" -> TokenStats.countIn(toks, Array("the", "fox", "data")),
      "jaccard_long_k" ->
        VectorFunctions.jaccardLongK(sh, H.filterNotIn(sh, drop)),
      "cosine_dense_k" -> VectorFunctions.cosineDenseK(dense, sparse),
      "euclidean_k" -> VectorFunctions.euclideanK(dense, sparse),
      "manhattan_k" -> VectorFunctions.manhattanK(dense, sparse),
      "ivf_probe" -> H.ivfProbe(dense, codebook, 8, 2))
  }
}

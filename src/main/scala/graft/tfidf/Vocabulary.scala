package graft.tfidf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Vocabulary fit (SURVEY §2.3 A1) — reference semantics: term → dense
 * int id in **first-appearance order** over the corpus scan
 * (`/root/reference/vectorisers.go:159-181`): doc order first, token
 * position within doc second; a refit discards the old vocabulary.
 *
 * At web scale the stateless hashing trick (P5,
 * [[graft.hash.HashFunctions.murmur3go]]) replaces the fitted vocabulary exactly as
 * the reference intends (`vectorisers.go:215-230`); when a fitted
 * vocabulary IS wanted, the dense rank below is fully distributed.
 */
object Vocabulary {

  /**
   * Distributed dense rank 0..n−1 of `df` by `key`: range-partition on
   * the key (global order across partitions), count per partition (ONE
   * small job — a Long per partition), then per-partition windows with
   * broadcast prefix offsets. Replaces the single-partition global
   * window that was this repo's only serial operator.
   */
  def denseRank(df: DataFrame, key: Column, parts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    // Materialise the range exchange ONCE (eager localCheckpoint): the
    // range partitioner samples split points with an RDD-seeded sampler,
    // so re-executing it in the counts job vs the consumer's job could
    // place boundary rows in different partitions and desynchronise the
    // collected __pid offsets. Pinning the blocks makes every consumer
    // (counts, the returned plan, any later vocab.count()) read the same
    // placement, and costs one small vocab-sized cached frame.
    val ranged = df.repartitionByRange(n, key.asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // bounded collect: one row per partition
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) =>
      val o = (pid, acc); acc += c; o
    }
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__off"))
    ranged.join(offDf, "__pid")
      .withColumn("id",
        row_number().over(Window.partitionBy(col("__pid")).orderBy(key.asc))
          + col("__off") - 1)
      .drop("__pid", "__off")
  }

  def fit(docs: DataFrame, docOrd: Column, tokens: Column): DataFrame = {
    val first = docs
      .select(docOrd.as("d"), posexplode(tokens).as(Seq("p", "term")))
      .groupBy("term")
      .agg(min(struct(col("d"), col("p"))).as("first"))
    // reference ids are ints (`vectorisers.go:139`); vocabularies this
    // path serves are int-bounded by construction
    denseRank(first, col("first"))
      .select(col("term"), col("id").cast("int").as("id"))
  }
}

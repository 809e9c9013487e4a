package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape assertions: the declarative formulation must actually get
 * the optimizations it was written for — predicate pushdown and column
 * pruning reaching the parquet scan, codegen'd kernels inside
 * whole-stage codegen spans, no cartesian products in the pipeline.
 */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("filters and column pruning reach the parquet scan") {
    val plan = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en" && col("n_chars") > 200)
      .select(col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("IsNotNull(lang)"), s"no pushdown in:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.split("ReadSchema")(1).split("\n")(0).contains("source"),
      "pruned scan must not read unused columns")
  }

  test("custom hash kernels stay inside whole-stage codegen") {
    import spark.implicits._
    // non-foldable source (a local Seq would constant-fold to a
    // LocalTableScan before execution)
    val text = spark.range(10)
      .select(concat(lit("a b c d e f g h i "), $"id").as("text"))
    val chain = text
      .select(split($"text", " ").as("t"))
      .select(graft.hash.HashFunctions.hashedShingles($"t", 5).as("sh"))
      .select(graft.hash.HashFunctions.minhash128($"sh").as("mh"))
    // one Project over every kernel
    val all = text.select(KernelSpec.kernels(Array(1L), Array(1L),
      Array(1.0)).map { case (n, k) => k.as(n) }: _*)
    for (df <- Seq(chain, all)) {
      val plan = df.queryExecution.executedPlan
      // "*(n)" marks operators inside a WholeStageCodegen stage in the
      // string-rendered plan; the kernels must not break the span
      assert(plan.toString.contains("*(1) Project"), plan)
      assert(!plan.toString.contains("CodegenFallback"), plan)
      assert(plan.flatMap(_.expressions)
        .forall(_.find(_.isInstanceOf[CodegenFallback]).isEmpty), plan)
      df.collect() // and the generated code must actually compile + run
    }
  }

  test("dedup pipeline plan has no cartesian product / nested loop join") {
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(concat(lit("doc://"), col("doc_id")).as("url"), col("text"))
    val ext = DedupPipeline.extract(pages, DedupConfig())
    val sigs = DedupPipeline.signatures(
      DedupPipeline.exactDedup(ext)._2, DedupConfig())
    val cands = DedupPipeline.candidates(sigs, DedupConfig())
    val ver = DedupPipeline.verifyPairs(cands, sigs, DedupConfig(),
      broadcastMembers = true)
    val plan = ver.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("band-bucket pairing is one exchange + partition sort + streaming " +
    "pair generation (r06 shape — no per-bucket object aggregation)") {
    import spark.implicits._
    val df = Seq((1L, 0, 5L), (2L, 0, 5L)).toDF("doc_id", "band", "key")
    val plan = graft.lsh.Lsh.candidatePairs(df, "doc_id", 64, 3)
      .queryExecution.executedPlan.toString
    // the (band,key) repartition + sortWithinPartitions feeding PairStream
    assert(plan.contains("Sort [band") || plan.contains("Sort [band#"),
      plan.take(3000))
    assert(!plan.contains("ObjectHashAggregate"), plan.take(3000))
  }

  test("lshTopK caps buckets with a row_number window, not a per-bucket " +
    "object aggregation") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1))).toDF("id", "vec")
    val plan = graft.ops.TrainingDataOps
      .lshTopK(vecs, "id", "vec", vecs, 1, maxBucket = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"), plan.take(4000))
    // at caps ≤ windowGroupLimitThreshold the limit also runs map-side
    assert(plan.contains("WindowGroupLimit"), plan.take(4000))
  }
}

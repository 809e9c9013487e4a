package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import graft.{DedupConfig, DedupPipeline}
import graft.cluster.ConnectedComponents
import graft.ops.IncrementalIndex
import graft.substr.SuffixArrayStage

/**
 * Seeded benchmark of the dedup library, driven only through its public
 * functions from one caller in a closed loop at local[nproc].
 *
 * Usage: Main --workload <crawl_dedup|template_family|stream_ingest>
 *             --seed <n> --seconds <s> --trace <0|1> [--scale <f>] [--work <dir>]
 *
 * With --trace 0 it prints the end-to-end metrics; with --trace 1 it runs
 * the operation untraced, traced, and untraced again, and prints the
 * per-layer metrics. The last stdout line is the result object.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, scale: Double, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("scale", "1").toDouble,
      m.getOrElse("work", ".bench_build/work"))
  }

  val Spans: Seq[String] = Seq("extract", "id_audit", "exact_edges", "signatures",
    "fit_stats", "apply", "candidates", "verified", "verify_pairs",
    "simhash_edges", "substr_edges", "clusters", "put", "search")
  val SpanMetrics: Seq[String] = Seq("wall_s", "task_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "skew", "rows_out")
  val ExtraMetrics: Seq[String] = Seq("candidates.yield", "clusters.max_size",
    "spark.jobs", "spark.driver_gap_s", "put.files_written", "put.bytes_per_doc",
    "search.read_frac", "search.s_per_stored_batch", "trace.overhead_ratio")

  private val cfg = DedupConfig()

  /** What one run reports: metric values, operations attempted and
    * failed, and whether every correctness check passed. */
  final class Outcome {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0
    var failed = 0
    var correct = true
    val notes = mutable.ArrayBuffer.empty[String]
    /** Wall of every measured operation, in run order. */
    val walls = mutable.ArrayBuffer.empty[Double]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def fail(why: String): Unit = { failed += 1; correct = false; notes += why }
    /** Runs one operation; an exception counts as a failed operation. */
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body) catch { case e: Exception => fail(s"$what failed: $e"); None }
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val host = new Host(Paths.get(o.work).toAbsolutePath.toString)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, o.work)
    val out = new Outcome
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    try {
      o.workload match {
        case "crawl_dedup" => batch(spark, o, family = false, t0, out, tracer)
        case "template_family" => batch(spark, o, family = true, t0, out, tracer)
        case "stream_ingest" => stream(spark, o, t0, out, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.put("peak_rss_mb", host.peakRssMb(), "MiB")
      if (out.attempted > 0)
        out.put("op_success_rate", (out.attempted - out.failed).toDouble / out.attempted, "ratio")
      val hostJson = host.json(cores)
      tracer.foreach { t =>
        Files.createDirectories(Paths.get(o.work).getParent.resolve("traces"))
        Files.writeString(Paths.get(o.work).getParent.resolve(
          s"traces/${o.workload}-seed${o.seed}.json"),
          s"""{"workload": "${o.workload}", "seed": ${o.seed}, "host": $hostJson, """ +
            s""""spans": ${t.spansJson()}}""" + "\n")
      }
      out.notes.foreach(n => System.err.println(s"[perfbench] $n"))
      println(s"""{"host": $hostJson, "op_walls_s": [${out.walls.map(Json.num).mkString(", ")}]}""")
      val wanted =
        if (o.trace) Spans.flatMap(s => SpanMetrics.map(m => s"$s.$m")) ++ ExtraMetrics
        else Seq("setup_s", "dedup_docs_per_s", "pair_recall", "cluster_precision",
          "ingest_batch_p50_s", "ingest_docs_per_s", "ingest_match_recall",
          "peak_rss_mb", "op_success_rate")
      val ms = wanted.map { k =>
        val (v, u) = out.metrics.getOrElse(k, (0.0, unitOf(k)))
        s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
      }
      println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
        s""""failed": ${out.failed}, "metrics": {${ms.mkString(", ")}}}""")
    } finally {
      tracer.foreach(_.close())
      spark.stop()
    }
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "task_s" | "gc_s" | "driver_gap_s" | "s_per_stored_batch" => "s"
    case "shuffle_write_mb" | "spill_mb" => "MiB"
    case "rows_out" | "max_size" | "jobs" | "files_written" => "count"
    case "bytes_per_doc" => "B"
    case _ => "ratio"
  }

  /** The session a user of the library would build on one host: every
    * core, AQE on, Spark's scratch space inside the work directory. */
  private def session(cores: Int, work: String): SparkSession = {
    val dir = Paths.get(work).toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.autoBroadcastJoinThreshold", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Order-independent digest of (doc_id, cluster) plus the row count. */
  private def digest(out: DataFrame): (Long, Long) = {
    val r = out.agg(sum(xxhash64(col("doc_id"), col("cluster")).bitwiseAND(0xffffffffL)),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ---------------------------------------------------------------- batch

  /** Base pages per batch workload at scale 1. */
  private val BatchPages = 4000

  private def batch(spark: SparkSession, o: Opts, family: Boolean, t0: Long,
                    out: Outcome, tracer: Option[Tracer]): Unit = {
    val c0 = Corpus.Batch(o.seed, math.max(200, (BatchPages * o.scale).toInt), 0)
    val corpus = if (family) c0.copy(family = (c0.total / 10).toInt) else c0
    val pages = corpus.pages(spark).localCheckpoint(true)
    def runOnce(): (Double, DataFrame) = {
      val t = System.nanoTime()
      val res = DedupPipeline.run(pages, cfg)
      res.write.mode("overwrite").format("noop").save()
      (secondsSince(t), res)
    }

    // warm-up: one run over the same pages, so JIT and generated code are
    // in place before timing; its digest is the reference for later runs
    val reference = digest(runOnce()._2)
    spark.catalog.clearCache()
    out.put("setup_s", secondsSince(t0), "s")
    def check(what: String, d: (Long, Long)): Unit =
      if (d != reference) out.fail(s"$what cluster digest $d differs from the warm-up run's $reference")

    /** One timed run, checked against the reference; the first run of a
      * --trace 0 invocation also has its recall and precision checked. */
    def measured(what: String): Option[Double] = {
      val r = out.attempt(what) {
        val (wall, res) = runOnce()
        out.walls += wall
        check(what, digest(res))
        if (tracer.isEmpty && !out.metrics.contains("pair_recall")) {
          val (recall, precision) = quality(corpus, res)
          out.put("pair_recall", recall, "ratio")
          out.put("cluster_precision", precision, "ratio")
          if (recall < 0.99) out.fail(f"pair_recall $recall%.4f below 0.99")
        }
        wall
      }
      spark.catalog.clearCache()
      r
    }

    if (tracer.isEmpty) {
      val tm = System.nanoTime()
      while (out.attempted == 0 || secondsSince(tm) < o.seconds) measured("run")
      if (out.walls.nonEmpty) {
        val p50 = median(out.walls.toSeq)
        out.put("dedup_docs_per_s", corpus.total / p50, "1/s")
        // one batch workload run is one batch: the ingest view of it
        out.put("ingest_batch_p50_s", p50, "s")
        out.put("ingest_docs_per_s", corpus.total / p50, "1/s")
        out.put("ingest_match_recall", out.metrics.get("pair_recall").map(_._1).getOrElse(0.0), "ratio")
      }
    } else {
      val t = tracer.get
      val traced = out.attempt("traced run")(tracedRun(spark, pages, t))
      spark.catalog.clearCache()
      val untraced = measured("untraced run")
      traced.foreach { case (_, d, maxSize) =>
        check("traced run", d)
        out.put("clusters.max_size", maxSize, "count")
      }
      t.drain()
      Spans.foreach(s => t.spanMetrics(s).foreach { case (k, v) => out.put(s"$s.$k", v, unitOf(k)) })
      val cands = out.metrics.get("candidates.rows_out").map(_._1).getOrElse(0.0)
      val verified = out.metrics.get("verify_pairs.rows_out").map(_._1).getOrElse(0.0)
      out.put("candidates.yield", if (cands > 0) verified / cands else 0.0, "ratio")
      val (jobs, gap) = t.jobsAndGap()
      out.put("spark.jobs", jobs, "count")
      out.put("spark.driver_gap_s", gap, "s")
      for ((tw, _, _) <- traced; u <- untraced) out.put("trace.overhead_ratio", tw / u, "ratio")
    }
  }

  /** (pair recall, cluster precision) of one output.
    * Precision counts, over all co-clustered page pairs, those whose two
    * pages share a planted origin, from per-cluster origin counts. */
  private def quality(corpus: Corpus.Batch, res: DataFrame): (Double, Double) = {
    val cluster = res.select("url", "cluster").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = 0L until corpus.total
    val copies = rows.filter(r => corpus.originOf(r) != r)
    val recall = copies.count(r =>
      cluster.get(corpus.urlOf(corpus.originOf(r))).exists(cluster.get(corpus.urlOf(r)).contains))
      .toDouble / copies.size
    def pairs(n: Long) = n * (n - 1) / 2.0
    val byCluster = rows.groupBy(r => cluster(corpus.urlOf(r)))
    val all = byCluster.values.map(m => pairs(m.size)).sum
    val same = byCluster.values.map(_.groupBy(corpus.originOf).values.map(m => pairs(m.size)).sum).sum
    (recall, if (all > 0) same / all else 1.0)
  }

  /** One pipeline run composed of the library's public stage functions
    * in the order `DedupPipeline.run` calls them, each wrapped in a span
    * and materialised. Returns (wall seconds, output digest, largest
    * cluster). */
  private def tracedRun(spark: SparkSession, pages: DataFrame,
                        t: Tracer): (Double, (Long, Long), Long) = {
    import spark.implicits._
    /** A span whose output is persisted and counted inside it. */
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = t.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      t.setRows(n)
      (p, n)
    }
    val t0 = System.nanoTime()
    val (ext, _) = stage("extract") {
      DedupPipeline.withTf(DedupPipeline.extract(pages, cfg), cfg)
        .select("url", "doc_id", "tf", "norm", "text_hash", "shingles")
    }
    val (audited, _) = stage("id_audit")(DedupPipeline.resolveIdCollisions(ext, cfg))
    val (exact, reps) = t.span("exact_edges") {
      val (e, r) = DedupPipeline.exactDedup(audited, cfg)
      val reps = r.persist(StorageLevel.MEMORY_AND_DISK)
      reps.count()
      t.setRows(e.count())
      (e, reps)
    }
    val (sigs, _) = t.span("signatures") {
      val tfd = reps.select("doc_id", "tf", "shingles")
      val stats = t.span("fit_stats") {
        val st = DedupPipeline.fitCorpusStats(tfd, cfg)
        t.setRows(st.idfTerms.length + st.hotShingles.length)
        st
      }
      val r = stage("apply") {
        DedupPipeline.applySignatures(tfd, stats, cfg).select("doc_id", "minhash", "simhash", "shingles")
      }
      t.setRows(r._2)
      r
    }
    val (cands, _) = stage("candidates")(DedupPipeline.candidates(sigs, cfg))
    val bc = true // every id set of a corpus this size fits cfg.broadcastIdLimit
    val verified = t.span("verified") {
      val (jv, nj) = stage("verify_pairs")(DedupPipeline.verifyPairs(cands, sigs, cfg, bc))
      val (sv, ns) = stage("simhash_edges")(DedupPipeline.simhashEdges(sigs, cfg))
      t.setRows(nj + ns)
      jv.select($"a", $"b").union(sv.select($"a", $"b"))
    }
    val (substr, _) = stage("substr_edges") {
      SuffixArrayStage.substringEdges(reps, "doc_id", "norm", cfg.substrMinRun,
        broadcastIdLimit = cfg.broadcastIdLimit, broadcastMembers = Some(bc))
    }
    val (out, _) = stage("clusters") {
      val edges = exact.select("a", "b").union(verified).union(substr.select("a", "b"))
        .localCheckpoint()
      audited.select($"url", $"doc_id")
        .join(ConnectedComponents.run(edges).withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce($"comp", $"doc_id"))
        .select($"url", $"doc_id", $"cluster")
    }
    val wall = secondsSince(t0)
    val maxSize = out.groupBy("cluster").count().agg(max("count")).head().getLong(0)
    (wall, digest(out), maxSize)
  }

  // --------------------------------------------------------------- stream

  /** Pages in the base batch and in each micro-batch at scale 1. */
  private val StreamBase = 8
  private val StreamBatch = 4

  private def stream(spark: SparkSession, o: Opts, t0: Long, out: Outcome,
                     tracer: Option[Tracer]): Unit = {
    val corpus = Corpus.Stream(o.seed, math.max(8, (StreamBase * o.scale).toInt),
      math.max(4, (StreamBatch * o.scale).toInt))
    val dir = Paths.get(o.work).toAbsolutePath.resolve("ingest-index")
    deleteTree(dir)
    val idx = new IncrementalIndex(spark, dir.toString, cfg)
    idx.putBatch(corpus.pages(spark, 0).localCheckpoint(true), 0)

    val origin = mutable.HashMap.empty[String, Long]
    (0 until corpus.batchSize(0)).foreach(j => origin(corpus.url(0, j)) = corpus.origin(0, j))
    var planted = 0; var found = 0; var matched = 0; var sameOrigin = 0
    val extra = mutable.HashMap.empty[String, Double]

    /** One micro-batch as the streaming ingest lifecycle runs it: cache,
      * skip if empty, put, search, act on the matches, release. */
    def microBatch(k: Int, tr: Option[Tracer]): Double = {
      val src = corpus.pages(spark, k).localCheckpoint(true)
      (0 until corpus.size).foreach(j => origin(corpus.url(k, j)) = corpus.origin(k, j))
      tr.foreach(_.drain())
      val before = if (tr.isDefined) treeStats(dir) else (0L, 0L)
      val bands = dir.resolve("bands")
      val read0 = tr.map(_.scannedRows(bands)).getOrElse(0L)
      val t = System.nanoTime()
      val b = src.cache()
      var rows = Array.empty[org.apache.spark.sql.Row]
      try {
        if (!b.isEmpty) {
          def put(): Unit = idx.putBatch(b, k)
          def search(): Long = {
            val m = idx.search(b)
            try rows = m.collect() finally graft.ckpt.Checkpoints.free(m)
            rows.length.toLong
          }
          tr match {
            case Some(t) =>
              t.span("put") { put(); t.setRows(corpus.size) }
              t.span("search")(t.setRows(search()))
            case None => put(); search()
          }
        }
      } finally { b.unpersist(); () }
      val wall = secondsSince(t)
      tr.foreach { tr =>
        tr.drain()
        val read = tr.scannedRows(bands) - read0
        // search reads and writes no index files: the tree now is the tree after put
        val after = treeStats(dir)
        val stored = spark.read.parquet(bands.toString).count()
        extra ++= Seq(
          "put.files_written" -> (after._1 - before._1).toDouble,
          "put.bytes_per_doc" -> (after._2 - before._2).toDouble / corpus.size,
          "search.read_frac" -> read.toDouble / math.max(1L, stored),
          "search.s_per_stored_batch" ->
            tr.spanNamed("search").map(_.wallS).getOrElse(0.0) / (k + 1))
      }
      val hits = rows.map(r => (r.getString(0), r.getString(1))).toSet
      rows.filter(r => r.getDouble(2) < cfg.tau || !origin.contains(r.getString(1)) ||
          !r.getString(0).contains(s"/b$k/"))
        .foreach(r => out.fail(s"batch $k: invalid match $r"))
      hits.foreach { case (q, m) =>
        matched += 1
        if (origin.get(q).exists(origin.get(m).contains)) sameOrigin += 1
      }
      (0 until corpus.size).foreach { j =>
        corpus.sourceOf(k, j).foreach { s =>
          planted += 1
          if (hits.contains((corpus.url(k, j), corpus.urlOfGlobal(s)))) found += 1
        }
      }
      wall
    }

    // warm-up: micro-batch 1 runs the put and search paths once
    microBatch(1, None)
    out.put("setup_s", secondsSince(t0), "s")

    if (tracer.isEmpty) {
      // a fixed number of micro-batches, one per 10 s of run time: the index
      // grows with every batch, so a time-bounded loop would give a faster
      // build more (and slower) batches to average over
      val batches = math.max(1, math.ceil(o.seconds / 10).toInt)
      (2 to batches + 1).foreach { k =>
        out.attempt(s"micro-batch $k")(microBatch(k, None)).foreach(out.walls += _)
      }
      if (out.walls.nonEmpty) {
        val p50 = median(out.walls.toSeq)
        val dps = corpus.size * out.walls.size / out.walls.sum
        val recall = if (planted > 0) found.toDouble / planted else 0.0
        out.put("ingest_batch_p50_s", p50, "s")
        out.put("ingest_docs_per_s", dps, "1/s")
        out.put("ingest_match_recall", recall, "ratio")
        // the batch view of an ingest run: pages deduplicated per second,
        // planted pairs found, and matches that share a planted origin
        out.put("dedup_docs_per_s", dps, "1/s")
        out.put("pair_recall", recall, "ratio")
        out.put("cluster_precision", if (matched > 0) sameOrigin.toDouble / matched else 1.0, "ratio")
      }
    } else {
      val traced = out.attempt("micro-batch 2")(microBatch(2, tracer))
      val untraced = out.attempt("micro-batch 3")(microBatch(3, None))
      untraced.foreach(out.walls += _)
      val t = tracer.get
      t.drain()
      Spans.foreach(s => t.spanMetrics(s).foreach { case (k, v) => out.put(s"$s.$k", v, unitOf(k)) })
      val (jobs, gap) = t.jobsAndGap()
      out.put("spark.jobs", jobs, "count")
      out.put("spark.driver_gap_s", gap, "s")
      for (tw <- traced; u <- untraced) out.put("trace.overhead_ratio", tw / u, "ratio")
    }
    extra.foreach { case (k, v) => out.put(k, v, unitOf(k)) }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (regular files, bytes) under `p`. */
  private def treeStats(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var n = 0L; var b = 0L
      s.filter(f => Files.isRegularFile(f)).forEach { f => n += 1; b += Files.size(f) }
      (n, b)
    } finally s.close()
  }
}

package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/**
 * Spans around the library's public calls, made from outside the
 * library. Each span sets the Spark job group for the calls it wraps, so
 * a listener attributes every job, stage and task to the innermost open
 * span. Spans and their counts stay in memory until [[spansJson]].
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Option[Int],
                   val startMs: Long, val startNs: Long) {
    var endMs = 0L
    var wallS = 0.0
    var rowsOut = 0L
  }

  private final class StageAcc(val span: Int) {
    var taskMs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
    val taskTimes = mutable.ArrayBuffer.empty[Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val jobs = mutable.HashMap.empty[Int, (Int, Long, Long)] // span, start, end
  private var drained = false
  private var markerJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.foreach { g =>
        if (g == "perfbench-drain") markerJob = e.jobId
        else if (g.startsWith("span-")) {
          val s = g.stripPrefix("span-").toInt
          jobs(e.jobId) = (s, e.time, 0L)
          e.stageIds.foreach(st => if (!stages.contains(st)) stages(st) = new StageAcc(s))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId) match {
        case Some((s, t0, _)) => jobs(e.jobId) = (s, t0, e.time)
        case None => if (e.jobId == markerJob) drained = true
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (acc <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        acc.taskMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled
        acc.taskTimes += m.executorRunTime
      }
    }
  }

  // file scans of each successful SQL execution; their row metrics are
  // read after the listener bus drains (tasks may finish after onSuccess)
  private val scans = mutable.ArrayBuffer.empty[FileSourceScanExec]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      def collect(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => collect(a.executedPlan)
        case q: QueryStageExec => collect(q.plan)
        case _: ReusedExchangeExec => Nil // its subtree runs once, where it is defined
        case f: FileSourceScanExec => Seq(f)
        case o => o.children.flatMap(collect) ++ o.subqueries.flatMap(collect)
      }
      val found = collect(qe.executedPlan)
      Tracer.this.synchronized { scans ++= found }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def span[A](name: String)(body: => A): A = {
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.map(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s; open = s :: open; s
    }
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body finally synchronized {
      s.wallS = (System.nanoTime() - s.startNs) / 1e9
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Records `n` as the output row count of the innermost open span. */
  def setRows(n: Long): Unit = synchronized(open.head.rowsOut = n)

  /** Waits until the listener has seen every event posted so far: a
    * marker job is posted last, and events are delivered in order. */
  def drain(): Unit = {
    synchronized { drained = false }
    sc.setJobGroup("perfbench-drain", "drain", interruptOnCancel = false)
    spark.range(1).selectExpr("'perfbench-drain' AS m").collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!synchronized(drained) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Rows output so far by file scans rooted at directory `root`. */
  def scannedRows(root: java.nio.file.Path): Long = synchronized {
    scans.filter(_.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == root.toString))
      .map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  def spanNamed(name: String): Option[Span] = synchronized(spans.find(_.name == name))

  private def subtree(id: Int): Set[Int] =
    spans.filter(_.parent.contains(id)).map(_.id).flatMap(subtree).toSet + id

  /** Per-span metrics, children's work included in the parent's. */
  def spanMetrics(name: String): Map[String, Double] = synchronized {
    spans.find(_.name == name) match {
      case None => Map.empty
      case Some(s) =>
        val ids = subtree(s.id)
        val st = stages.values.filter(a => ids.contains(a.span)).toSeq
        val largest = st.sortBy(-_.taskMs).headOption
        val skew = largest.filter(_.taskTimes.nonEmpty).map { a =>
          val t = a.taskTimes.sorted
          val med = t(t.length / 2).max(1L)
          t.last.toDouble / med
        }.getOrElse(1.0)
        Map(
          "wall_s" -> s.wallS,
          "task_s" -> st.map(_.taskMs).sum / 1e3,
          "gc_s" -> st.map(_.gcMs).sum / 1e3,
          "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
          "spill_mb" -> st.map(_.spill).sum / 1048576.0,
          "skew" -> skew,
          "rows_out" -> s.rowsOut.toDouble)
    }
  }

  /** (jobs, driver gap in seconds): wall time between the first span's
    * start and the last span's end that no traced job covers. */
  def jobsAndGap(): (Int, Double) = synchronized {
    val top = spans.filter(_.parent.isEmpty)
    if (top.isEmpty) return (0, 0.0)
    val t0 = top.map(_.startMs).min
    val t1 = top.map(_.endMs).max
    val iv = jobs.values.map { case (_, a, b) => (a max t0, (if (b == 0) t1 else b) min t1) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    (jobs.size, (t1 - t0 - covered) / 1e3)
  }

  /** Every span as JSON: id, name, parent, start/end (epoch ms) and metrics. */
  def spansJson(): String = synchronized {
    spans.map { s =>
      val m = spanMetrics(s.name).map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent.map(_.toString).getOrElse("null")}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "metrics": {$m}}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

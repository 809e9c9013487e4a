package graft.perfbench

import scala.io.Source

/** Host context recorded with every run: cores, hypervisor steal over
  * the run, the memory-bandwidth canary `graft.Bench` uses, and the
  * filesystem holding the work directory (and so the ingest index). */
final class Host(workDir: String) {
  private def cpuStat(): (Long, Long) = {
    val src = Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }
  private val (steal0, total0) = cpuStat()

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def filesystem(): String = {
    val src = Source.fromFile("/proc/mounts")
    try {
      val mounts = src.getLines().map(_.split(" ")).filter(_.length > 2).toSeq
      mounts.filter(m => workDir == m(1) || workDir.startsWith(m(1).stripSuffix("/") + "/"))
        .sortBy(-_(1).length).headOption.map(m => s"${m(2)} on ${m(1)}").getOrElse("unknown")
    } finally src.close()
  }

  /** Host context as a JSON object. Call after [[peakRssMb]]: the
    * bandwidth canary allocates its own buffers. */
  def json(cores: Int): String = {
    val (steal1, total1) = cpuStat()
    val stealPct = 100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)
    graft.Bench.canaryGbps() // the first reading is cold
    val bw = Seq.fill(3)(graft.Bench.canaryGbps()).sorted.apply(1)
    s"""{"nproc": $cores, "steal_pct": ${Json.num(stealPct)}, """ +
      s""""canary_gbps": ${Json.num(bw)}, "work_fs": ${Json.str(filesystem())}}"""
  }
}

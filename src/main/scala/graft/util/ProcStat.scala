package graft.util

/**
 * Process meters shared by `Bench` and the measurement tools: process
 * CPU, JIT and GC time, and host steal. This VM's hypervisor steal is
 * bimodal (the same workload has been observed at 5.1s clean / 15-28s
 * stolen); stolen cycles never appear in process CPU time, so CPU
 * seconds are the stable per-workload cost while wall seconds carry the
 * noise, and the /proc/stat steal bracket says which regime a reading
 * was taken in.
 */
object ProcStat {

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (ns, all JVM threads) — the steal-immune clock. */
  def cpuNs(): Long = osBean.getProcessCpuTime

  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Cumulative JIT-compiler milliseconds (C1 + C2). A fresh JVM's
    * compiler churn lands on whichever query runs while C2 is busy, so
    * only a bracket over a whole pass is attributable. */
  def jitMs(): Long = jitBean.getTotalCompilationTime

  /** Cumulative GC milliseconds over all collectors. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line
    * (field 8 = steal). */
  def stealJiffies(): (Long, Long) =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Percentage of host jiffies stolen between two stealJiffies calls. */
  def stealPct(before: (Long, Long), after: (Long, Long)): Double =
    if (after._2 > before._2)
      100.0 * (after._1 - before._1) / (after._2 - before._2)
    else 0.0
}

package graft.tools

import scala.util.control.NonFatal

import graft.util.ProcStat.{cpuNs, gcMs, jitMs}

/**
 * COLD-pass attribution harness (dev tool behind the r13→r14 cold-axis
 * investigation). Runs every gate query ONCE in a fresh JVM — the
 * bench's cold pass — and brackets each query with the JVM's own
 * cumulative meters:
 *
 *  - process CPU (all threads, the bench's usual clock);
 *  - JIT compiler time ([[java.lang.management.CompilationMXBean]] —
 *    the C1/C2 churn that a fresh JVM pays while it compiles Spark);
 *  - GC time (sum over [[java.lang.management.GarbageCollectorMXBean]]s).
 *
 * A query's cold excess then decomposes: `jit_ms` says the interval's
 * slowness is compiler churn (landing on whichever query runs while
 * C2 is busy — run-random attribution), `gc_ms` says heap pressure,
 * and a high `cpu - jit - gc` remainder with low warm cost says real
 * first-run work (codegen/planning) in the query itself.
 *
 * Prints one JSON line: totals + the top-25 queries by cold wall with
 * their full meter brackets.
 *
 * Usage: `scripts/run_main.sh graft.tools.ColdAttrib [sfDir]`
 */
object ColdAttrib {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus(32))
    final case class R(wall: Double, cpu: Double, jit: Double, gc: Double)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, R]
    val t00 = System.nanoTime(); val c00 = cpuNs()
    val j00 = jitMs(); val g00 = gcMs()
    for ((name, fn) <- graft.SparkEntry.queries) {
      val w0 = System.nanoTime(); val c0 = cpuNs()
      val j0 = jitMs(); val g0 = gcMs()
      try {
        fn(spark, sfDir).count(): Unit
        rows(name) = R((System.nanoTime() - w0) / 1e9, (cpuNs() - c0) / 1e9,
          (jitMs() - j0) / 1e3, (gcMs() - g0) / 1e3)
      } catch { case NonFatal(e) =>
        System.err.println(s"[coldattrib] $name FAILED: ${e.getClass.getSimpleName}")
      }
    }
    val totW = (System.nanoTime() - t00) / 1e9
    val totC = (cpuNs() - c00) / 1e9
    val totJ = (jitMs() - j00) / 1e3
    val totG = (gcMs() - g00) / 1e3
    def r2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val top = rows.toSeq.sortBy(-_._2.wall).take(25).map { case (k, r) =>
      s""""$k":{"wall":${r2(r.wall)},"cpu":${r2(r.cpu)},"jit_s":${r2(r.jit)},"gc_s":${r2(r.gc)}}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","n":${rows.size},"cold_wall":${r2(totW)},"cold_cpu":${r2(totC)},"jit_total_s":${r2(totJ)},"gc_total_s":${r2(totG)},"top":$top}""")
    spark.stop()
  }
}

package graft.tools

import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` for every gate query (or a
  * comma list) to one file per query — the plan evidence the
  * optimization rounds commit under plans/r16/ (judge checks plan-shape
  * claims against these files; guide §7.2).
  *
  * `sbt "runMain graft.tools.PlanDump <outDir> [q1,q2,...] [sfDir]"` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names =
      if (args.length > 1 && args(1) != "all") args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus(4))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var nOk = 0
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes("UTF-8"))
        nOk += 1
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    println(s"[plandump] wrote $nOk/${names.size} plans to $outDir")
    spark.stop()
  }
}

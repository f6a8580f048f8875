package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // dev: SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the set (same contract
    // as Bench's SPARK_GRAFT_BENCH_ONLY); the driver sets neither
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val queries = only.fold(SparkEntry.queries)(ns => SparkEntry.queries.filter(kv => ns(kv._1)))
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case NonFatal(e) =>
        // a failed query must not vanish from the correctness report (a
        // missing output dir is silently skipped by the compare): write a
        // 1-row sentinel result so the compare records a loud mismatch,
        // and collect the message for errors.json
        failed(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        import spark.implicits._
        Seq(failed(name)).toDF("_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    def json(m: Iterable[(String, String)]): String =
      compact(JObject(m.toList.map { case (k, v) => k -> JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), json(failed))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}

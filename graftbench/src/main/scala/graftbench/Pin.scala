package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/**
 * Writes what `pin_digests.py` needs to pin the gate digests: the gate
 * tables, each gate query's output as parquet, its digest and its oracle
 * SQL. Run it only when the gate tables or queries change on purpose.
 *
 * Usage: graftbench.Pin <dir> <cpus>
 */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dir, cpus) = args
    val spark = Main.session(Main.sessionConf(cpus.toInt, dir))
    val tables = s"$dir/tables"
    Gen.gateTables(spark, tables, ReadSide.TableSeed, ReadSide.Scale)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("tables", tables)
    val digests = new java.util.LinkedHashMap[String, String]()
    val oracles = new java.util.LinkedHashMap[String, String]()
    ReadSide.Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, tables)
      digests.put(q, ReadSide.digest(df.collect()))
      df.write.mode("overwrite").parquet(s"$dir/out/$q")
      oracles.put(q, SparkEntry.oracleSql(q))
    }
    out.put("digests", digests)
    out.put("oracles", oracles)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new File(s"$dir/pin.json"), out)
    spark.stop()
  }

  /** The pinned digests of `gate_digests.json` (name -> digest). */
  def readDigests(path: String): Map[String, String] =
    new ObjectMapper().readTree(new File(path)).get("digests").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
}

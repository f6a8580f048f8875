package graft

import org.apache.spark.sql.SparkSession

/** The one way to build an engine session: every main, tool and test
  * session comes from [[GraftSession.local]], so they all run the same
  * engine configuration. */
object GraftSession {

  /** A `local[cpus]` session (shuffle partitions = `cpus`) with the
    * engine's confs; `extra` adds or overrides confs (e.g. a test
    * warehouse dir). Returns the existing session when one is active,
    * as `getOrCreate` does. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      // the fixture's `ts` is timestamp[us] (loads as TIMESTAMP_NTZ) or,
      // in older fixtures, int64 epoch-nanos; nanosAsLong loads the
      // latter as a long and UTC keeps the NTZ -> TZ retag shift-free
      // (Fixture.raw normalizes both)
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // the graft_* kernels resolve through call_function and fail
      // without the extensions
      "spark.sql.extensions" -> "graft.GraftExtensions",
      // the generated-class cache (default 100 entries) is far under the
      // gate suite's working set (~250 queries x O(10) codegen units), so
      // every warm pass re-ran Janino and C2 for every stage: 100 ->
      // 20000 entries measured 74.7s -> 52.5s warm on the 45 slowest
      // gate queries. Static conf, so it must be set at creation.
      "spark.sql.codegen.cache.maxEntries" -> "20000"
    ) ++ extra
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `$SPARK_GRAFT_CPUS`, else `default`: the core count the mains run at. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}

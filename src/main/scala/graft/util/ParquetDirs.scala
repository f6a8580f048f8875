package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared helper for parquet-backed metadata/log dirs that may not exist
  * yet: read with the declared schema, or an empty DataFrame of that
  * schema before the first write. Every path goes through the Hadoop
  * `FileSystem` of its scheme, so a plain path, a `file:` URI and an
  * `hdfs:` URI behave alike. */
object ParquetDirs {

  /** The parquet files directly under `dir` that Spark's readers see:
    * a name starting with `_` or `.` is hidden, as in Spark's batch and
    * file-stream listings. Empty when `dir` does not exist. */
  def visibleParquet(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = try fs.listStatus(path).toSeq catch { case _: java.io.FileNotFoundException => Nil }
    all.filter { s =>
      val name = s.getPath.getName
      s.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
    }
  }

  /** Spark's reader lists the directory itself, and reads one that holds
    * no visible parquet as empty under `schema`; only a missing directory
    * needs the empty DataFrame. */
  def readOrEmpty(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val path = new Path(dir)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }
}

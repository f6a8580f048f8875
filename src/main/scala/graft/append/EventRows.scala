package graft.append

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.parquet.schema.Type.Repetition.REPEATED
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.Subscriptions

/**
 * Chosen rows of one log file, read on the driver by parquet's row-range
 * read: each row group's wanted rows become `RowRanges`,
 * `readFilteredRowGroup` reads only the pages that hold them, and parquet's
 * synchronizing column readers skip the other rows' values without
 * materializing them. Each wanted row becomes an internal row of
 * `Subscriptions.eventSchema`. The converters declare no dictionary
 * support, so parquet decodes a dictionary entry only for a row it reads.
 */
private[append] object EventRows {

  /** The rows `rows` (ascending row numbers) of the file `s`, in that
    * order, and the file's row count; None when the file has no offset
    * index or a column is not of the shape the converters take. */
  def read(conf: Configuration, s: FileStatus, rows: Array[Long]): Option[(Array[InternalRow], Long)] = {
    // options from `conf`: without them, open builds a Configuration per file
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf), HadoopReadOptions.builder(conf).build())
    try {
      val meta = reader.getFooter.getFileMetaData
      val blocks = reader.getRowGroups.asScala.toSeq
      requested(meta.getSchema)
        .filter(_ => blocks.forall(_.getColumns.asScala.forall(_.getOffsetIndexReference != null)))
        .map { schema =>
          reader.setRequestedSchema(schema)
          val io = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(schema, meta.getSchema)
          val out = new Array[InternalRow](rows.length)
          var (first, k) = (0L, 0) // the block's first row; the first wanted row not yet read
          for ((block, b) <- blocks.zipWithIndex) {
            val n = block.getRowCount
            val from = k
            while (k < rows.length && rows(k) < first + n) k += 1
            // Parquet's synchronizing reader ends a row group early when its
            // last wanted row lies on a later page than the one before it, so
            // each read also names the row after its last, which it never
            // materializes; the group's last row, which has none, is read alone.
            val split = if (k - from > 1 && rows(k - 1) == first + n - 1) k - 1 else k
            for ((lo, hi) <- Seq((from, split), (split, k)) if hi > lo) {
              val want = rows.slice(lo, hi).map(_ - first)
              val pages = reader.readFilteredRowGroup(b, ranges(if (want.last + 1 < n) want :+ (want.last + 1) else want, n))
              val records = io.getRecordReader(pages, new Materializer, FilterCompat.NOOP)
              for (i <- lo until hi) out(i) = records.read()
            }
            first += n
          }
          (out, first)
        }
    } finally reader.close()
  }

  /** `rows` (ascending, within a row group of `rowCount` rows) as parquet's
    * `RowRanges`. That class builds ranges only from an offset index's
    * pages, so each row is given as a one-row page; adjacent rows merge
    * into one range. */
  private def ranges(rows: Array[Long], rowCount: Long): RowRanges = {
    val perRow = new OffsetIndex {
      def getPageCount: Int = rows.length
      def getOffset(i: Int): Long = throw new UnsupportedOperationException
      def getCompressedPageSize(i: Int): Int = throw new UnsupportedOperationException
      def getFirstRowIndex(i: Int): Long = rows(i)
      override def getLastRowIndex(i: Int, rowGroupRowCount: Long): Long = rows(i)
    }
    RowRanges.create(rowCount, java.util.stream.IntStream.range(0, rows.length).iterator(), perRow)
  }

  /** The file's columns of the event schema, in the event schema's order,
    * when each has a shape the converters take: a binary or an int64
    * column, and a map as one repeated group of two binary columns (the
    * standard and the legacy layout). None when one is missing or differs. */
  private def requested(file: MessageType): Option[MessageType] = {
    def binary(t: Type) = t.isPrimitive && !t.isRepetition(REPEATED) && t.asPrimitiveType.getPrimitiveTypeName == BINARY
    val fields = Subscriptions.eventSchema.fields.toSeq.map { f =>
      Option.when(file.containsField(f.name))(file.getType(file.getFieldIndex(f.name))).filter { t =>
        f.dataType match {
          case StringType => binary(t)
          case LongType => t.isPrimitive && !t.isRepetition(REPEATED) &&
            t.asPrimitiveType.getPrimitiveTypeName == INT64 && t.getLogicalTypeAnnotation == null
          case _: MapType => !t.isPrimitive && !t.isRepetition(REPEATED) && t.asGroupType.getFieldCount == 1 && {
            val kv = t.asGroupType.getType(0)
            !kv.isPrimitive && kv.isRepetition(REPEATED) && kv.asGroupType.getFieldCount == 2 &&
              kv.asGroupType.getFields.asScala.forall(binary)
          }
          case _ => false
        }
      }
    }
    Option.when(fields.forall(_.isDefined))(new MessageType(file.getName, fields.flatten.asJava))
  }

  /** Internal rows of the event schema from records of [[requested]]'s
    * schema, whose field i is the event schema's field i. */
  private final class Materializer extends RecordMaterializer[InternalRow] {
    private val fields = Subscriptions.eventSchema.fields
    private var row: GenericInternalRow = null

    private def string(set: UTF8String => Unit): PrimitiveConverter = new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = set(UTF8String.fromBytes(v.getBytes))
    }

    /** A map's entries, collected between its group's start and end. */
    private final class MapConverter(i: Int) extends GroupConverter {
      private val (keys, values) = (mutable.ArrayBuffer.empty[Any], mutable.ArrayBuffer.empty[Any])
      private val entry = new GroupConverter {
        private val kv = Array[Converter](string(keys(keys.size - 1) = _), string(values(values.size - 1) = _))
        def getConverter(j: Int): Converter = kv(j)
        def start(): Unit = { keys += null; values += null }
        def end(): Unit = ()
      }
      def getConverter(j: Int): Converter = entry
      def start(): Unit = { keys.clear(); values.clear() }
      def end(): Unit =
        row.update(i, new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(values.toArray)))
    }

    private val root = new GroupConverter {
      private val converters: Array[Converter] = fields.indices.map { i =>
        fields(i).dataType match {
          case LongType   => new PrimitiveConverter { override def addLong(v: Long): Unit = row.setLong(i, v) }
          case _: MapType => new MapConverter(i)
          case _          => string(row.update(i, _))
        }
      }.toArray
      def getConverter(i: Int): Converter = converters(i)
      def start(): Unit = row = new GenericInternalRow(fields.length)
      def end(): Unit = ()
    }

    def getCurrentRecord: InternalRow = row
    def getRootConverter: GroupConverter = root
  }
}

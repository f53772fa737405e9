package graft.tables

import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Direct reads of parquet footers: the row count and the per-column
  * [min,max] that every parquet writer already records per row group.
  * Reading them costs one small file read per data file and no Spark job,
  * which is how the table layer takes its file stats (Delta keeps the
  * same stats in its commit log instead of re-scanning written files).
  */
private[graft] object ParquetFooters {

  def read(file: java.nio.file.Path, conf: Configuration): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  def rowCount(md: ParquetMetadata): Long =
    md.getBlocks.asScala.map(_.getRowCount).sum

  /** The file-wide [min,max] of top-level column `name`, rendered as
    * Spark's `CAST(... AS STRING)` of a `tpe` value, for string,
    * byte/short/int/long and date columns. None when the range is
    * unknown: another type, a physical type that does not match `tpe`, a
    * row group without min/max (parquet drops them for values over
    * 4 KiB), a truncated string bound that is not valid UTF-8, or a
    * column with no non-null value at all.
    */
  def range(md: ParquetMetadata, name: String,
      tpe: DataType): Option[(String, String)] = {
    val field = md.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == name).filter(_.isPrimitive)
      .map(_.asPrimitiveType).getOrElse(return None)
    val physical = field.getPrimitiveTypeName
    val logical = field.getLogicalTypeAnnotation
    val render: Comparable[_] => Option[String] = (tpe, physical) match {
      case (StringType, PrimitiveTypeName.BINARY)
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        v => utf8(v.asInstanceOf[Binary])
      case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32)
          if logical == null ||
            logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
        v => Some(v.toString)
      case (LongType, PrimitiveTypeName.INT64)
          if logical == null ||
            logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
        v => Some(v.toString)
      case (DateType, PrimitiveTypeName.INT32)
          if logical.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        v => Some(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Integer].longValue).toString)
      case _ => return None
    }
    val chunks = md.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
      .map(_.getColumns.asScala
        .find(_.getPath.toArray.sameElements(Array(name))))
    if (chunks.exists(_.isEmpty)) return None
    // a chunk with min/max adds them; an all-null chunk adds nothing; a
    // chunk without stats or without min/max leaves the range unknown
    val stats = chunks.flatten.map(c => (c, c.getStatistics: Statistics[_]))
    val allNull = stats.filter { case (c, st) =>
      st != null && !st.hasNonNullValue && st.isNumNullsSet &&
        st.getNumNulls == c.getValueCount
    }
    val known = stats.collect { case (_, st) if st != null && st.hasNonNullValue => st }
    if (known.size + allNull.size < stats.size || known.isEmpty) return None
    // the column's own order: signed for ints, unsigned bytes for
    // strings (the order of Spark's UTF8String)
    val order = known.head.comparator()
      .asInstanceOf[org.apache.parquet.schema.PrimitiveComparator[Any]]
    val lo = known.map(_.genericGetMin: Any).reduce((a, b) =>
      if (order.compare(a, b) <= 0) a else b)
    val hi = known.map(_.genericGetMax: Any).reduce((a, b) =>
      if (order.compare(a, b) >= 0) a else b)
    for (l <- render(lo.asInstanceOf[Comparable[_]]);
         h <- render(hi.asInstanceOf[Comparable[_]])) yield (l, h)
  }

  /** Strict UTF-8 decode: a truncated bound whose last byte was bumped
    * may not be valid UTF-8, and a lossy decode would change its order.
    */
  private def utf8(b: Binary): Option[String] =
    try Some(StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(ByteBuffer.wrap(b.getBytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
}

package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.core.ValueCodec
import graft.spec.{IceSchema, IceType}
import graft.table.ManifestModel.DataFile

import scala.jdk.CollectionConverters._

/** Parquet footer → DataFile stats (reference: iceberg-rust/src/file_format/
  * parquet.rs:30-265): per-column sizes, value/null counts, min/max folded
  * across row groups and decoded to canonical values, then re-encoded as
  * Iceberg single-value bytes for manifest bounds.
  *
  * Footer-only IO: at 100 TB this reads a few KB per file, never data pages.
  */
object ParquetStats {

  def dataFile(path: String, conf: Configuration, schema: IceSchema,
               partition: Seq[(String, Any)], content: Int = 0,
               equalityIds: Seq[Int] = Nil): DataFile = {
    val file = HadoopInputFile.fromPath(new Path(path), conf)
    // read options from the caller's conf: the no-conf overload builds (and
    // loads the XML resources of) a fresh Hadoop Configuration per file
    val reader = ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala
      val recordCount = blocks.map(_.getRowCount).sum
      val fileSize = file.getLength

      var columnSizes = Map.empty[Int, Long]
      var valueCounts = Map.empty[Int, Long]
      var nullCounts = Map.empty[Int, Long]
      var lowerBounds = Map.empty[Int, Any]
      var upperBounds = Map.empty[Int, Any]
      var statsValid = Set.empty[Int]

      val splitOffsets = blocks.map(_.getStartingPos).toSeq.sorted

      for (block <- blocks; chunk <- block.getColumns.asScala) {
        val dotted = chunk.getPath.toDotString
        schema.fieldByName(dotted).foreach { field =>
          val id = field.id
          columnSizes = columnSizes.updated(id, columnSizes.getOrElse(id, 0L) + chunk.getTotalSize)
          valueCounts = valueCounts.updated(id, valueCounts.getOrElse(id, 0L) + chunk.getValueCount)
          val st = chunk.getStatistics
          if (st != null && !st.isEmpty) {
            nullCounts = nullCounts.updated(id, nullCounts.getOrElse(id, 0L) + st.getNumNulls)
            if (st.hasNonNullValue) {
              decode(st.genericGetMin, chunk.getPrimitiveType.getPrimitiveTypeName, field.fieldType)
                .foreach { mn =>
                  statsValid += id
                  lowerBounds = lowerBounds.updated(id,
                    lowerBounds.get(id).map(x => if (Transaction.compareVals(x, mn) <= 0) x else mn)
                      .getOrElse(mn))
                }
              decode(st.genericGetMax, chunk.getPrimitiveType.getPrimitiveTypeName, field.fieldType)
                .foreach { mx =>
                  upperBounds = upperBounds.updated(id,
                    upperBounds.get(id).map(x => if (Transaction.compareVals(x, mx) >= 0) x else mx)
                      .getOrElse(mx))
                }
            }
          }
        }
      }

      DataFile(
        content = content,
        filePath = path,
        fileFormat = "PARQUET",
        partition = partition,
        recordCount = recordCount,
        fileSizeInBytes = fileSize,
        columnSizes = columnSizes,
        valueCounts = valueCounts,
        nullValueCounts = nullCounts,
        lowerBounds = lowerBounds.view.filterKeys(statsValid).toMap
          .map { case (k, v) => k -> ValueCodec.toBytes(v) },
        upperBounds = upperBounds.view.filterKeys(statsValid).toMap
          .map { case (k, v) => k -> ValueCodec.toBytes(v) },
        equalityIds = equalityIds,
        splitOffsets = splitOffsets)
    } finally reader.close()
  }

  /** Parquet physical min/max → canonical JVM value for the Iceberg type.
    * Returns None for combinations we don't track bounds for (e.g. INT96).
    */
  private def decode(v: Any, prim: PrimitiveTypeName, t: IceType): Option[Any] = (prim, t) match {
    case (PrimitiveTypeName.INT32, IceType.IntT | IceType.DateT) => Some(v.asInstanceOf[Int])
    case (PrimitiveTypeName.INT64,
          IceType.LongT | IceType.TimeT | IceType.TimestampT | IceType.TimestamptzT) =>
      Some(v.asInstanceOf[Long])
    case (PrimitiveTypeName.FLOAT, IceType.FloatT) => Some(v.asInstanceOf[Float])
    case (PrimitiveTypeName.DOUBLE, IceType.DoubleT) => Some(v.asInstanceOf[Double])
    case (PrimitiveTypeName.BOOLEAN, IceType.BooleanT) => Some(v.asInstanceOf[Boolean])
    case (PrimitiveTypeName.BINARY, IceType.StringT | IceType.UuidT) =>
      Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    case (PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, IceType.DecimalT(_, s)) =>
      Some(new java.math.BigDecimal(
        new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), s))
    case (PrimitiveTypeName.INT32, IceType.DecimalT(_, s)) =>
      Some(java.math.BigDecimal.valueOf(v.asInstanceOf[Int].toLong, s))
    case (PrimitiveTypeName.INT64, IceType.DecimalT(_, s)) =>
      Some(java.math.BigDecimal.valueOf(v.asInstanceOf[Long], s))
    case _ => None
  }
}

package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The file index of a manifest-planned read (reference: S1 — the
  * `TableProvider` scan built from the manifest entries' file list,
  * datafusion_iceberg/src/table.rs:162-728): exactly the files the
  * manifest lists, at their manifest sizes, each carrying its manifest facts
  * as constant `_metadata` fields. Planning makes no listing and no stat
  * call — the manifest already holds what `InMemoryFileIndex` would ask the
  * file system for; a file deleted outside the table fails at the action.
  * It also serves the pipeline's inputs ([[graft.Tables]]): there the files
  * come from one listing per read, and the schema from a memo keyed by
  * their state, so a read infers and lists nothing more.
  * Equality is by file list, so two reads of the same files share cache
  * entries and exchanges as path-built relations do. */
private[graft] final case class ManifestFileIndex(files: Seq[FileStatusWithMetadata])
    extends FileIndex {
  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.iterator.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

/** Parquet whose `_metadata` struct also exposes the per-file manifest
  * constants of [[ManifestFileIndex]]: the partition tag
  * ([[IceScan.pkTag]] of the tuple, null when no value is set), the data
  * sequence number, and the nullable V3 `first_row_id`. They ride the
  * relation the way `file_path` does, so a read needs no path-keyed join
  * to learn which partition, sequence point or lineage base a row came
  * from. */
private[graft] class ManifestParquetFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ ManifestParquetFormat.Constants
  override def equals(other: Any): Boolean = other.isInstanceOf[ManifestParquetFormat]
  override def hashCode(): Int = getClass.hashCode()
}

private[graft] object ManifestParquetFormat {
  val PartitionTag = "partition_tag"
  val SequenceNumber = "sequence_number"
  val FirstRowId = "first_row_id"

  private val Constants = Seq(
    FileSourceConstantMetadataStructField(PartitionTag, StringType),
    FileSourceConstantMetadataStructField(SequenceNumber, LongType),
    FileSourceConstantMetadataStructField(FirstRowId, LongType))

  /** The constants as columns of a relation read with this format. */
  def partitionTag: Column = col(s"_metadata.$PartitionTag")
  def sequenceNumber: Column = col(s"_metadata.$SequenceNumber")
  def firstRowId: Column = col(s"_metadata.$FirstRowId")
}

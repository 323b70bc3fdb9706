package graft.table

import java.io.File

import org.apache.avro.{Schema => AvroSchema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import graft.spec.{IceSchema, IceType, PartitionSpec}

import scala.jdk.CollectionConverters._

/** Manifest data model (reference: iceberg-rust-spec/src/spec/manifest.rs:38-52,
  * 521-560 and manifest_list.rs:36-95) + Avro file IO via avro-core
  * GenericRecord (schemas ported from manifest.rs:793-1381 and
  * manifest_list.rs:382-663). Driver-side only: manifests are small index
  * files; executors never touch them.
  */
object ManifestModel {
  val FormatParquet = "PARQUET"
  val FormatPuffin = "PUFFIN"

  val ContentData = 0
  val ContentPositionDeletes = 1 // not supported — matches reference panic (table.rs:422-424)
  val ContentEqualityDeletes = 2

  val StatusExisting = 0
  val StatusAdded = 1
  val StatusDeleted = 2

  /** Iceberg reserved field ids for the V3 row-lineage columns (spec
    * "Reserved field ids"): a rewrite that must PRESERVE ids writes these
    * as real parquet columns; their presence in a file's stats marks the
    * file as carrying materialized lineage. */
  val RowIdFieldId = 2147483540
  val LastUpdatedSeqFieldId = 2147483539

  /** manifest.rs:521-560 */
  final case class DataFile(
      content: Int,
      filePath: String,
      fileFormat: String, // "PARQUET"
      partition: Seq[(String, Any)], // partition field name -> canonical JVM value
      recordCount: Long,
      fileSizeInBytes: Long,
      columnSizes: Map[Int, Long] = Map.empty,
      valueCounts: Map[Int, Long] = Map.empty,
      nullValueCounts: Map[Int, Long] = Map.empty,
      nanValueCounts: Map[Int, Long] = Map.empty,
      distinctCounts: Map[Int, Long] = Map.empty,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      equalityIds: Seq[Int] = Nil,
      sortOrderId: Option[Int] = None,
      splitOffsets: Seq[Long] = Nil,
      // Iceberg V3 deletion-vector fields (set only on content=1 entries with
      // file_format=PUFFIN): the data file this vector masks, and the blob's
      // byte range inside the puffin file — readers open the blob straight
      // from the manifest, no puffin footer round-trip.
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeInBytes: Option[Long] = None,
      // Iceberg V3 row lineage: the id of this data file's first row
      // (row n's id = first_row_id + n); None for delete files, for files
      // written before lineage was enabled, and for rewritten files that
      // carry a MATERIALIZED _row_id column instead
      firstRowId: Option[Long] = None)

  /** manifest.rs:38-52 */
  final case class ManifestEntry(
      status: Int,
      snapshotId: Option[Long],
      sequenceNumber: Option[Long],
      fileSequenceNumber: Option[Long],
      dataFile: DataFile)

  /** manifest_list.rs:78-95 */
  final case class FieldSummary(
      containsNull: Boolean,
      containsNan: Option[Boolean],
      lowerBound: Option[Array[Byte]],
      upperBound: Option[Array[Byte]])

  /** manifest_list.rs:36-77 */
  final case class ManifestListEntry(
      manifestPath: String,
      manifestLength: Long,
      partitionSpecId: Int,
      content: Int, // 0 = data, 1 = deletes
      sequenceNumber: Long,
      minSequenceNumber: Long,
      addedSnapshotId: Long,
      addedFilesCount: Int,
      existingFilesCount: Int,
      deletedFilesCount: Int,
      addedRowsCount: Long,
      existingRowsCount: Long,
      deletedRowsCount: Long,
      partitions: Seq[FieldSummary])
}

object ManifestIO {
  import ManifestModel._

  // ---------- Avro schemas ----------

  private def avroPrimitive(t: IceType): AvroSchema = {
    val b = AvroSchema.create _
    import AvroSchema.Type._
    t match {
      case IceType.BooleanT => b(BOOLEAN)
      case IceType.IntT | IceType.DateT => b(INT)
      case IceType.LongT | IceType.TimeT | IceType.TimestampT | IceType.TimestamptzT => b(LONG)
      case IceType.FloatT => b(FLOAT)
      case IceType.DoubleT => b(DOUBLE)
      case IceType.StringT | IceType.UuidT => b(STRING)
      case _ => b(BYTES) // decimal/fixed/binary carried as single-value bytes
    }
  }

  /** Partition-struct Avro schema for a spec (typed per manifest.rs partition
    * value schema tests :1383-1654).
    */
  private def partitionSchema(spec: PartitionSpec, schema: IceSchema): AvroSchema = {
    val fields = spec.partitionType(schema).fields
    val fb = SchemaBuilder.record("r102").fields()
    fields.foldLeft(fb) { (acc, f) =>
      acc.name(f.name).`type`(AvroSchema.createUnion(
        AvroSchema.create(AvroSchema.Type.NULL), avroPrimitive(f.fieldType))).withDefault(null)
    }.endRecord()
  }

  private def intMapSchema(name: String, valueType: AvroSchema.Type): AvroSchema = {
    val entry = SchemaBuilder.record(name).fields()
      .requiredInt("key").name("value").`type`(AvroSchema.create(valueType)).noDefault()
      .endRecord()
    AvroSchema.createArray(entry)
  }

  private def nullable(s: AvroSchema): AvroSchema =
    AvroSchema.createUnion(AvroSchema.create(AvroSchema.Type.NULL), s)

  private def dataFileSchema(spec: PartitionSpec, schema: IceSchema): AvroSchema = {
    SchemaBuilder.record("r2").fields()
      .requiredInt("content")
      .requiredString("file_path")
      .requiredString("file_format")
      .name("partition").`type`(partitionSchema(spec, schema)).noDefault()
      .requiredLong("record_count")
      .requiredLong("file_size_in_bytes")
      .name("column_sizes").`type`(nullable(intMapSchema("k117_v118", AvroSchema.Type.LONG))).withDefault(null)
      .name("value_counts").`type`(nullable(intMapSchema("k119_v120", AvroSchema.Type.LONG))).withDefault(null)
      .name("null_value_counts").`type`(nullable(intMapSchema("k121_v122", AvroSchema.Type.LONG))).withDefault(null)
      .name("nan_value_counts").`type`(nullable(intMapSchema("k138_v139", AvroSchema.Type.LONG))).withDefault(null)
      .name("distinct_counts").`type`(nullable(intMapSchema("k123_v124", AvroSchema.Type.LONG))).withDefault(null)
      .name("lower_bounds").`type`(nullable(intMapSchema("k126_v127", AvroSchema.Type.BYTES))).withDefault(null)
      .name("upper_bounds").`type`(nullable(intMapSchema("k129_v130", AvroSchema.Type.BYTES))).withDefault(null)
      .name("key_metadata").`type`(nullable(AvroSchema.create(AvroSchema.Type.BYTES))).withDefault(null)
      .name("split_offsets").`type`(nullable(AvroSchema.createArray(AvroSchema.create(AvroSchema.Type.LONG)))).withDefault(null)
      .name("equality_ids").`type`(nullable(AvroSchema.createArray(AvroSchema.create(AvroSchema.Type.INT)))).withDefault(null)
      .name("sort_order_id").`type`(nullable(AvroSchema.create(AvroSchema.Type.INT))).withDefault(null)
      .name("referenced_data_file").`type`(nullable(AvroSchema.create(AvroSchema.Type.STRING))).withDefault(null)
      .name("content_offset").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .name("content_size_in_bytes").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .name("first_row_id").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .endRecord()
  }

  def manifestEntrySchema(spec: PartitionSpec, schema: IceSchema): AvroSchema =
    SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .name("snapshot_id").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .name("sequence_number").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .name("file_sequence_number").`type`(nullable(AvroSchema.create(AvroSchema.Type.LONG))).withDefault(null)
      .name("data_file").`type`(dataFileSchema(spec, schema)).noDefault()
      .endRecord()

  val fieldSummarySchema: AvroSchema = SchemaBuilder.record("r508").fields()
    .requiredBoolean("contains_null")
    .name("contains_nan").`type`(nullable(AvroSchema.create(AvroSchema.Type.BOOLEAN))).withDefault(null)
    .name("lower_bound").`type`(nullable(AvroSchema.create(AvroSchema.Type.BYTES))).withDefault(null)
    .name("upper_bound").`type`(nullable(AvroSchema.create(AvroSchema.Type.BYTES))).withDefault(null)
    .endRecord()

  val manifestListSchema: AvroSchema = SchemaBuilder.record("manifest_file").fields()
    .requiredString("manifest_path")
    .requiredLong("manifest_length")
    .requiredInt("partition_spec_id")
    .requiredInt("content")
    .requiredLong("sequence_number")
    .requiredLong("min_sequence_number")
    .requiredLong("added_snapshot_id")
    .requiredInt("added_files_count")
    .requiredInt("existing_files_count")
    .requiredInt("deleted_files_count")
    .requiredLong("added_rows_count")
    .requiredLong("existing_rows_count")
    .requiredLong("deleted_rows_count")
    .name("partitions").`type`(nullable(AvroSchema.createArray(fieldSummarySchema))).withDefault(null)
    .name("key_metadata").`type`(nullable(AvroSchema.create(AvroSchema.Type.BYTES))).withDefault(null)
    .endRecord()

  // ---------- write ----------

  private def bb(a: Array[Byte]) = java.nio.ByteBuffer.wrap(a)

  private def intMap(schema: AvroSchema, m: Map[Int, _]): GenericData.Array[GenericRecord] = {
    val arr = new GenericData.Array[GenericRecord](m.size, schema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(schema.getElementType)
      r.put("key", k)
      r.put("value", v match {
        case b: Array[Byte] => bb(b)
        case x => x
      })
      arr.add(r)
    }
    arr
  }

  private def partitionValue(v: Any): Any = v match {
    case b: Array[Byte] => bb(b)
    case d: java.math.BigDecimal => bb(d.unscaledValue().toByteArray)
    case x => x
  }

  /** Writes a manifest Avro file; returns its length in bytes. */
  def writeManifest(path: String, spec: PartitionSpec, schema: IceSchema,
                    entries: Seq[ManifestEntry]): Long = {
    val avro = manifestEntrySchema(spec, schema)
    val df = avro.getField("data_file").schema()
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    val file = new File(path)
    file.getParentFile.mkdirs()
    writer.create(avro, file)
    try entries.foreach { e =>
      val r = new GenericData.Record(avro)
      r.put("status", e.status)
      r.put("snapshot_id", e.snapshotId.map(Long.box).orNull)
      r.put("sequence_number", e.sequenceNumber.map(Long.box).orNull)
      r.put("file_sequence_number", e.fileSequenceNumber.map(Long.box).orNull)
      val d = new GenericData.Record(df)
      val x = e.dataFile
      d.put("content", x.content)
      d.put("file_path", x.filePath)
      d.put("file_format", x.fileFormat)
      val ps = df.getField("partition").schema()
      val pr = new GenericData.Record(ps)
      x.partition.foreach { case (name, v) => pr.put(name, partitionValue(v)) }
      d.put("partition", pr)
      d.put("record_count", x.recordCount)
      d.put("file_size_in_bytes", x.fileSizeInBytes)
      def putMap(fname: String, m: Map[Int, _]): Unit = if (m.nonEmpty)
        d.put(fname, intMap(nonNull(df.getField(fname).schema()), m))
      putMap("column_sizes", x.columnSizes)
      putMap("value_counts", x.valueCounts)
      putMap("null_value_counts", x.nullValueCounts)
      putMap("nan_value_counts", x.nanValueCounts)
      putMap("distinct_counts", x.distinctCounts)
      putMap("lower_bounds", x.lowerBounds)
      putMap("upper_bounds", x.upperBounds)
      if (x.splitOffsets.nonEmpty) {
        val a = new GenericData.Array[java.lang.Long](x.splitOffsets.size,
          nonNull(df.getField("split_offsets").schema()))
        x.splitOffsets.foreach(o => a.add(Long.box(o)))
        d.put("split_offsets", a)
      }
      if (x.equalityIds.nonEmpty) {
        val a = new GenericData.Array[java.lang.Integer](x.equalityIds.size,
          nonNull(df.getField("equality_ids").schema()))
        x.equalityIds.foreach(i => a.add(Int.box(i)))
        d.put("equality_ids", a)
      }
      d.put("sort_order_id", x.sortOrderId.map(Int.box).orNull)
      d.put("referenced_data_file", x.referencedDataFile.orNull)
      d.put("content_offset", x.contentOffset.map(Long.box).orNull)
      d.put("content_size_in_bytes", x.contentSizeInBytes.map(Long.box).orNull)
      d.put("first_row_id", x.firstRowId.map(Long.box).orNull)
      r.put("data_file", d)
      writer.append(r)
    } finally writer.close()
    file.length()
  }

  def writeManifestList(path: String, entries: Seq[ManifestListEntry]): Unit = {
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](manifestListSchema))
    val file = new File(path)
    file.getParentFile.mkdirs()
    writer.create(manifestListSchema, file)
    try entries.foreach { e =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", e.manifestPath)
      r.put("manifest_length", e.manifestLength)
      r.put("partition_spec_id", e.partitionSpecId)
      r.put("content", e.content)
      r.put("sequence_number", e.sequenceNumber)
      r.put("min_sequence_number", e.minSequenceNumber)
      r.put("added_snapshot_id", e.addedSnapshotId)
      r.put("added_files_count", e.addedFilesCount)
      r.put("existing_files_count", e.existingFilesCount)
      r.put("deleted_files_count", e.deletedFilesCount)
      r.put("added_rows_count", e.addedRowsCount)
      r.put("existing_rows_count", e.existingRowsCount)
      r.put("deleted_rows_count", e.deletedRowsCount)
      if (e.partitions.nonEmpty) {
        val arrSchema = AvroSchema.createArray(fieldSummarySchema)
        val a = new GenericData.Array[GenericRecord](e.partitions.size, arrSchema)
        e.partitions.foreach { s =>
          val fr = new GenericData.Record(fieldSummarySchema)
          fr.put("contains_null", s.containsNull)
          fr.put("contains_nan", s.containsNan.map(Boolean.box).orNull)
          fr.put("lower_bound", s.lowerBound.map(bb).orNull)
          fr.put("upper_bound", s.upperBound.map(bb).orNull)
          a.add(fr)
        }
        r.put("partitions", a)
      }
      writer.append(r)
    } finally writer.close()
  }

  // ---------- read ----------

  private def nonNull(s: AvroSchema): AvroSchema =
    if (s.getType == AvroSchema.Type.UNION) s.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).get
    else s

  private def bytesOf(v: Any): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val copy = b.duplicate(); val a = new Array[Byte](copy.remaining()); copy.get(a); a
    case a: Array[Byte] => a
  }

  private def readIntMap[T](v: Any)(f: Any => T): Map[Int, T] = v match {
    case null => Map.empty
    case arr: java.util.Collection[_] =>
      arr.asScala.map { e =>
        val r = e.asInstanceOf[GenericRecord]
        r.get("key").asInstanceOf[Int] -> f(r.get("value"))
      }.toMap
  }

  private def str(v: Any): String = v match { case null => null; case s => s.toString }

  /** Immutable-file LRU caches: manifests and manifest lists are written
    * once under UUID names and never mutated (rewrites get new names), so a
    * cached parse is valid forever — repeated scans of the same snapshot
    * (MV refresh, MoR planning, interactive sessions) skip the Avro decode
    * entirely. Bounded per kind; evicts least-recently-used.
    */
  private val manifestCacheCap =
    graft.core.SysProps.int("graft.manifest.cache.entries", 256, min = 1)
  private def lru[V](): java.util.LinkedHashMap[String, V] =
    new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > manifestCacheCap
    }
  private val manifestCache = lru[Seq[ManifestEntry]]()
  private val manifestListCache = lru[Seq[ManifestListEntry]]()
  private def cached[V](cache: java.util.LinkedHashMap[String, V], path: String)(load: => V): V = {
    val hit = cache.synchronized(cache.get(path))
    if (hit != null) hit
    else {
      val v = load // outside the lock: a slow read must not serialize other paths
      cache.synchronized(cache.put(path, v))
      v
    }
  }

  def readManifest(path: String): Seq[ManifestEntry] =
    cached(manifestCache, path)(readManifestUncached(path))

  /** Bounded IO pool for concurrent manifest fetches during scan planning —
    * the reference streams manifests with unbounded concurrency
    * (iceberg-rust/src/table/mod.rs:327 `flat_map_unordered`); we bound it so
    * a thousand-manifest table can't exhaust driver file handles. Daemon
    * threads so the JVM exits cleanly.
    */
  private val manifestReadParallelism =
    graft.core.SysProps.int("graft.manifest.read.parallelism",
      math.min(16, Runtime.getRuntime.availableProcessors()), min = 1)
  private lazy val manifestPool = java.util.concurrent.Executors.newFixedThreadPool(
    manifestReadParallelism,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-manifest-io-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    })

  // Test instrumentation: physical (cache-missing) reads and the distinct
  // threads that performed them — lets a spec assert cold planning actually
  // fans out across the pool.
  private val uncachedReadCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val uncachedReadThreads =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def uncachedManifestReads: Long = uncachedReadCounter.get
  def uncachedManifestReadThreads: Set[String] = {
    import scala.jdk.CollectionConverters._
    uncachedReadThreads.asScala.toSet
  }
  private[graft] def resetReadInstrumentation(): Unit = {
    uncachedReadCounter.set(0); uncachedReadThreads.clear()
  }
  private[graft] def clearCachesForTesting(): Unit = {
    manifestCache.synchronized(manifestCache.clear())
    manifestListCache.synchronized(manifestListCache.clear())
  }

  /** Reads many manifests concurrently on the bounded pool, returning results
    * in input order so scan planning stays deterministic. Cache hits
    * short-circuit inside readManifest; a single path skips the pool. Calls
    * already running on a pool thread read inline to avoid self-deadlock.
    */
  def readManifests(paths: Seq[String]): Seq[Seq[ManifestEntry]] = {
    if (paths.lengthCompare(2) < 0 ||
        Thread.currentThread().getName.startsWith("graft-manifest-io")) {
      paths.map(readManifest)
    } else {
      val futures = paths.map { p =>
        manifestPool.submit(new java.util.concurrent.Callable[Seq[ManifestEntry]] {
          def call(): Seq[ManifestEntry] = readManifest(p)
        })
      }
      try futures.map(_.get())
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }

  /** GenericData.Record.get THROWS on a field the writer's schema lacks;
    * optional fields must tolerate absence — the reference's V2 entry schema
    * (manifest.rs:231-275) has no file_sequence_number, and V1 manifests
    * lack content/sequence numbers entirely.
    */
  private def opt(r: GenericRecord, name: String): Any =
    if (r.getSchema.getField(name) == null) null else r.get(name)

  private def readManifestUncached(path: String): Seq[ManifestEntry] = {
    uncachedReadCounter.incrementAndGet()
    uncachedReadThreads.add(Thread.currentThread().getName)
    val reader = new DataFileReader[GenericRecord](new File(path),
      new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.map { r =>
      val d = r.get("data_file").asInstanceOf[GenericRecord]
      val pr = d.get("partition").asInstanceOf[GenericRecord]
      val partition = pr.getSchema.getFields.asScala.map { f =>
        val v = pr.get(f.name()) match {
          case u: org.apache.avro.util.Utf8 => u.toString
          case b: java.nio.ByteBuffer => bytesOf(b)
          case x => x
        }
        f.name() -> v
      }.toSeq
      ManifestEntry(
        status = r.get("status").asInstanceOf[Int],
        snapshotId = Option(opt(r, "snapshot_id")).map(_.asInstanceOf[Long]),
        sequenceNumber = Option(opt(r, "sequence_number")).map(_.asInstanceOf[Long]),
        fileSequenceNumber = Option(opt(r, "file_sequence_number")).map(_.asInstanceOf[Long]),
        dataFile = DataFile(
          content = Option(opt(d, "content")).map(_.asInstanceOf[Int]).getOrElse(ContentData),
          filePath = str(d.get("file_path")),
          fileFormat = str(d.get("file_format")),
          partition = partition,
          recordCount = d.get("record_count").asInstanceOf[Long],
          fileSizeInBytes = d.get("file_size_in_bytes").asInstanceOf[Long],
          columnSizes = readIntMap(opt(d, "column_sizes"))(_.asInstanceOf[Long]),
          valueCounts = readIntMap(opt(d, "value_counts"))(_.asInstanceOf[Long]),
          nullValueCounts = readIntMap(opt(d, "null_value_counts"))(_.asInstanceOf[Long]),
          nanValueCounts = readIntMap(opt(d, "nan_value_counts"))(_.asInstanceOf[Long]),
          distinctCounts = readIntMap(opt(d, "distinct_counts"))(_.asInstanceOf[Long]),
          lowerBounds = readIntMap(opt(d, "lower_bounds"))(bytesOf),
          upperBounds = readIntMap(opt(d, "upper_bounds"))(bytesOf),
          equalityIds = Option(opt(d, "equality_ids"))
            .map(_.asInstanceOf[java.util.Collection[Int]].asScala.toSeq).getOrElse(Nil),
          sortOrderId = Option(opt(d, "sort_order_id")).map(_.asInstanceOf[Int]),
          splitOffsets = Option(opt(d, "split_offsets"))
            .map(_.asInstanceOf[java.util.Collection[Long]].asScala.toSeq).getOrElse(Nil),
          referencedDataFile = Option(opt(d, "referenced_data_file")).map(_.toString),
          contentOffset = Option(opt(d, "content_offset")).map(_.asInstanceOf[Long]),
          contentSizeInBytes = Option(opt(d, "content_size_in_bytes")).map(_.asInstanceOf[Long]),
          firstRowId = Option(opt(d, "first_row_id")).map(_.asInstanceOf[Long])))
    }.toList finally reader.close()
  }

  def readManifestList(path: String): Seq[ManifestListEntry] =
    cached(manifestListCache, path)(readManifestListUncached(path))

  private def readManifestListUncached(path: String): Seq[ManifestListEntry] = {
    val reader = new DataFileReader[GenericRecord](new File(path),
      new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.map { r =>
      ManifestListEntry(
        manifestPath = str(r.get("manifest_path")),
        manifestLength = r.get("manifest_length").asInstanceOf[Long],
        partitionSpecId = r.get("partition_spec_id").asInstanceOf[Int],
        // V1 list files carry none of these three; default data-content/seq-0
        content = Option(opt(r, "content")).map(_.asInstanceOf[Int]).getOrElse(ContentData),
        sequenceNumber = Option(opt(r, "sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
        minSequenceNumber = Option(opt(r, "min_sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
        addedSnapshotId = r.get("added_snapshot_id").asInstanceOf[Long],
        addedFilesCount = r.get("added_files_count").asInstanceOf[Int],
        existingFilesCount = r.get("existing_files_count").asInstanceOf[Int],
        deletedFilesCount = r.get("deleted_files_count").asInstanceOf[Int],
        addedRowsCount = r.get("added_rows_count").asInstanceOf[Long],
        existingRowsCount = r.get("existing_rows_count").asInstanceOf[Long],
        deletedRowsCount = r.get("deleted_rows_count").asInstanceOf[Long],
        partitions = Option(r.get("partitions")).map(_.asInstanceOf[java.util.Collection[_]]
          .asScala.map { s0 =>
            val s = s0.asInstanceOf[GenericRecord]
            FieldSummary(
              containsNull = s.get("contains_null").asInstanceOf[Boolean],
              containsNan = Option(s.get("contains_nan")).map(_.asInstanceOf[Boolean]),
              lowerBound = Option(s.get("lower_bound")).map(bytesOf),
              upperBound = Option(s.get("upper_bound")).map(bytesOf))
          }.toSeq).getOrElse(Nil))
    }.toList finally reader.close()
  }
}

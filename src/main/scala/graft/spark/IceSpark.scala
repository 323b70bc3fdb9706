package graft.spark

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

import graft.core.{Pruning, Transform}
import graft.spec.{IceSchema, IceType, Snapshot}
import graft.table.ManifestModel._
import graft.table.{IceTable, ParquetStats}

/** Spark-native write path (reference: S7/S8 — datafusion_iceberg/src/
  * table.rs:740-792 + iceberg-rust/src/arrow/write.rs:89-266).
  *
  * The reference's per-partition fan-out stream becomes
  * `repartition(partitionExprs)` + hive-style partition-dir parquet tasks —
  * Spark's shuffle is the cluster-scale analogue of the reference's
  * in-process channel split (SURVEY §3.2). File rolling uses
  * maxRecordsPerFile derived from the 512 MB target (write.rs:66);
  * compression matches the reference default zstd level 1
  * (table/mod.rs:75-85).
  *
  * Like the reference's writer, each write returns its own `DataFile`s: one
  * planned write runs through Spark's `FileFormatWriter`, and every task
  * reads the footer of each file it closes and returns the stats with its
  * task commit ([[DataFileTracker]], S10's "accumulate during write"). The
  * driver lists nothing and opens no footer.
  */
object IceWrite {

  /** Reserved prefix for physical partition-directory column names. */
  private[graft] val PartColPrefix = "__gp_"

  // One standing write child per parent session (weak keys: a stopped and
  // dereferenced parent must not pin its child). The child's conf set is
  // CONSTANT, so every write can share it — and a concurrent write on the
  // same parent shares it safely for the same reason.
  private val writeSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  // Parent confs that change the BYTES we write — re-synced from the parent
  // on every write so the memoized child does not freeze the parent's conf
  // state as of the first write (newSession() clones confs only once).
  private val ResyncedConfs = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.parquet.compression.codec",
    "spark.sql.datetime.java8API.enabled")

  private[graft] def writeSessionFor(spark: SparkSession): SparkSession =
    writeSessions.synchronized {
      val cur = writeSessions.get(spark)
      val ws =
        if (cur != null) cur
        else {
          val fresh = spark.newSession()
          fresh.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          fresh.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          // AQE OFF for write plans: their shapes are explicit
          // (repartition(partCols) / repartitionByRange / coalesce(nOut)),
          // so AQE has nothing to improve — but its stage-materialization
          // makes the pre-write partition-count probe EXECUTE the producing
          // query (measured 0.44 s of a 0.95 s three-row MV write), and its
          // per-stage scheduling adds a constant to every tiny ACID write
          // (the q14/q97/q39-q41 latency class). Broadcast decisions in
          // write plans still fire statically off IceScan's manifest-exact
          // stats and the explicit MoR broadcast hints.
          fresh.conf.set("spark.sql.adaptive.enabled", "false")
          fresh.sessionState.newHadoopConf() // ensure defaults materialized
          writeSessions.put(spark, fresh)
          fresh
        }
      ResyncedConfs.foreach { k =>
        spark.conf.getOption(k) match {
          case Some(v) if !ws.conf.getOption(k).contains(v) => ws.conf.set(k, v)
          case _ => ()
        }
      }
      ws
    }

  /** Known-cardinality write sizing: rows → `writeDataFiles(outFiles)` hint
    * at ~4M rows per file — callers that can bound their output (MV merges,
    * MERGE key sets) use this instead of the optimizer's join estimates. */
  private[graft] def fileCountHint(rows: Long): Option[Int] =
    Some(math.max(1L, rows / 4000000L).min(Int.MaxValue).toInt)

  /** Runs two INDEPENDENT file-writing computations concurrently — an
    * atomic commit of data + delete files otherwise pays two sequential
    * per-job constants (the dominant cost of a tiny ACID write; Spark's
    * scheduler interleaves the jobs across the shared core pool). Callers
    * must not pass work that mutates shared session state (setting the
    * reader's constant field-id flags is the one benign exception).
    * If `a` throws, the pending `b` job finishes into its own orphaned
    * staging dir and is never committed. */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }

  /** Appends `df` to the table; returns the updated table. `summary` rides
    * the snapshot summary in the SAME commit — provenance that must be
    * atomic with the data (e.g. streaming batch ids for exactly-once).
    * `props` are table-property updates carried by the same commit (the
    * durable streaming ledger — state that must OUTLIVE snapshot
    * expiration rides properties, not summaries). The caller must own
    * these keys exclusively: they are declared retry-safe, so a CAS-retry
    * re-applies them last-writer-wins. */
  def append(spark: SparkSession, table: IceTable, df: DataFrame,
             branch: Option[String] = None,
             summary: Map[String, String] = Map.empty,
             props: Map[String, String] = Map.empty): IceTable = {
    val files = writeDataFiles(spark, table, df, table.schema)
    table.newTransaction(branch).appendData(files)
      .summaryExtra(summary.toSeq: _*)
      .updateProperties(props, ownedExclusively = true).commit()
  }

  /** Writes equality-delete files for the rows of `df` projected onto
    * `equalityIds` (S9, write.rs:119-126): any table row matching a delete
    * row on those columns — and older than the delete — is masked at read.
    */
  def appendEqualityDeletes(spark: SparkSession, table: IceTable, df: DataFrame,
                            equalityIds: Seq[Int], branch: Option[String] = None): IceTable = {
    val schema = table.schema
    val eqCols = equalityIds.map(id => schema.fieldById(id)
      .getOrElse(throw new IllegalArgumentException(s"unknown equality field id $id")).name)
    val projected = df.select(eqCols.map(col): _*).distinct()
    val deleteSchema = schema.project(equalityIds)
    val files = writeDataFiles(spark, table, projected, deleteSchema,
      content = ContentEqualityDeletes, equalityIds = equalityIds, branch = branch)
    table.newTransaction(branch).appendDeletes(files).commit()
  }

  /** Iceberg-spec field ids of the positional-delete file columns. */
  private[graft] val PosDeletePathId = 2147483546
  private[graft] val PosDeletePosId = 2147483545
  private[graft] val PosDeleteSchema = graft.spec.IceSchema(0, Seq(
    graft.spec.NestedField(PosDeletePathId, "file_path", required = true, graft.spec.IceType.StringT),
    graft.spec.NestedField(PosDeletePosId, "pos", required = true, graft.spec.IceType.LongT)))

  /** Writes POSITIONAL delete files for the current-snapshot rows matching
    * `predicate` (BEYOND the reference, which panics on content=1 files,
    * table.rs:422-424): each matching row is identified by its
    * (file path, row position) via Spark's `_metadata` columns — no data
    * rewrite, the scan masks the positions at read (merge-on-read).
    */
  def appendPositionDeletes(spark: SparkSession, table: IceTable, predicate: org.apache.spark.sql.Column,
                            branch: Option[String] = None): IceTable = {
    val files = positionDeleteFiles(spark, table, predicate, branch)
    if (files.isEmpty) table
    else table.newTransaction(branch).appendDeletes(files).commit()
  }

  /** The uncommitted half of [[appendPositionDeletes]]: writes the delete
    * files and returns them so a caller (e.g. SQL UPDATE) can commit them
    * TOGETHER with replacement data files in one atomic transaction.
    */
  private[graft] def positionDeleteFiles(spark: SparkSession, table: IceTable,
                                         predicate: org.apache.spark.sql.Column,
                                         branch: Option[String] = None): Seq[DataFile] =
    matchedPositions(spark, table, predicate, branch).map { matches =>
      writeDataFiles(spark, table, matches, PosDeleteSchema,
        content = ContentPositionDeletes)
    }.getOrElse(Nil)

  /** The (file_path, pos) DataFrame of current-snapshot rows matching
    * `predicate` — the shared front half of BOTH positional-delete writers
    * (parquet files and deletion vectors). None ⇔ pruning proved no file
    * can match.
    */
  private def matchedPositions(spark: SparkSession, table: IceTable,
                               predicate: org.apache.spark.sql.Column,
                               branch: Option[String]): Option[DataFrame] = {
    val snap = table.currentSnapshot(branch)
      .getOrElse(throw new IllegalStateException("cannot delete from an empty table"))
    // manifest/file pruning on the DELETE predicate: a file whose stats
    // prove it cannot contain matching rows need not be read at all — a
    // partition-scoped DELETE at 100 TB touches O(partition) files, not
    // O(table). Pruning is inexact-safe (only removes never-matching files).
    val files = IceScan.prunedDataFiles(spark, table, Seq(predicate), snap)
    // the reader resolves columns by field id like the scan: files written
    // before a RENAME COLUMN still bind the predicate to the renamed column
    if (files.isEmpty) None
    else Some(IceScan.readFiles(spark, files, IceScan.readSparkSchema(table, table.schema))
      .filter(predicate)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos")))
  }

  /** Reads one deletion-vector blob back into its bitmap. */
  private[graft] def readDvBitmap(conf: org.apache.hadoop.conf.Configuration,
                                  d: DataFile): graft.table.Roaring.Bitmap64 =
    graft.table.Puffin.dvFromBlob(graft.table.Puffin.readBlobRange(conf, d.filePath,
      d.contentOffset.getOrElse(sys.error(s"DV entry ${d.filePath} lacks content_offset")),
      d.contentSizeInBytes.getOrElse(sys.error(s"DV entry ${d.filePath} lacks content_size"))))

  /** One data file's new deletion vector: the `fresh` positions the delete
    * rows named, unioned into `vector` with the file's existing vector,
    * which `supersedes` names. */
  private[graft] final case class DeletionVector(path: String,
                                                 vector: graft.table.Roaring.Bitmap64,
                                                 fresh: Long,
                                                 supersedes: Option[ManifestEntry])

  /** Per-data-file deletion vectors for the (file_path, pos) rows of
    * `positions`, sorted by path — the one builder behind
    * [[appendDeletionVectors]] and
    * [[graft.table.Maintenance.convertPositionDeletesToDVs]]. The bitmaps
    * are built DISTRIBUTED (one group per data file, its positions sorted
    * into a roaring bitmap); only the serialized vectors come to the driver,
    * which unions each with that file's vector among the `existing` DV
    * entries (V3: at most one DV per data file). */
  private[graft] def deletionVectors(spark: SparkSession, positions: DataFrame,
                                     existing: Seq[ManifestEntry]): Seq[DeletionVector] = {
    import graft.table.Roaring
    import spark.implicits._
    val perFile = positions.toDF("_1", "_2").as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (path, it) =>
        val arr = it.map(_._2).toArray
        java.util.Arrays.sort(arr)
        (path, Roaring.Bitmap64.fromSorted(arr).serialize)
      }
      .collect()
    val hconf = spark.sparkContext.hadoopConfiguration
    val byPath: Map[String, ManifestEntry] = existing.iterator
      .flatMap(e => e.dataFile.referencedDataFile.map(_ -> e)).toMap
    perFile.toSeq.sortBy(_._1).map { case (p, bytes) =>
      val fresh = Roaring.Bitmap64.deserialize(bytes)
      val old = byPath.get(p)
      DeletionVector(p, old.fold(fresh)(e => fresh.union(readDvBitmap(hconf, e.dataFile))),
        fresh.cardinality, old)
    }
  }

  /** Deletes the current-snapshot rows matching `predicate` as Iceberg-V3
    * DELETION VECTORS (beyond the reference, which panics on ALL content=1
    * files, table.rs:422-424): one Puffin file per commit holding one
    * roaring-bitmap blob per referenced data file, replacing the
    * (file_path, pos) delete ROWS a parquet positional delete stores. The
    * read side applies them as a broadcast bitmap FILTER instead of an
    * anti-join — at 100 TB the delete side of the MoR plan drops from a
    * shuffled join against millions of delete rows to a compressed-bitmap
    * membership probe inside the scan's own filter.
    *
    * V3 invariant maintained here: at most ONE deletion vector per data
    * file. A file that already carries a DV gets a MERGED (old ∪ new)
    * replacement vector, committed via [[graft.table.Transaction.rewriteDeletes]]
    * so the superseded entry leaves the live snapshot in the same commit.
    *
    * The per-file bitmaps are built distributed ([[deletionVectors]]); only
    * the serialized vectors come to the driver, which writes the single
    * puffin artifact — byte volume proportional to the compressed vectors,
    * never to the table. Blob-level snapshot/sequence stamps inside the
    * puffin footer are informational (-1 until commit assigns them); the
    * MANIFEST carries the authoritative numbers, and readers locate blobs by
    * the manifest's content_offset/content_size without touching the footer.
    */
  def appendDeletionVectors(spark: SparkSession, table: IceTable,
                            predicate: org.apache.spark.sql.Column,
                            branch: Option[String] = None): IceTable = {
    val snap = table.currentSnapshot(branch)
      .getOrElse(throw new IllegalStateException("cannot delete from an empty table"))
    val positions = matchedPositions(spark, table, predicate, branch).getOrElse(return table)
    val all = table.entries(snap)
    val vectors = deletionVectors(spark, positions, all.filter(e =>
      e.dataFile.content == ContentPositionDeletes && e.dataFile.fileFormat == FormatPuffin))
    if (vectors.isEmpty) table
    else commitDeletionVectors(spark, table, branch, all, vectors, dropAlso = Nil)
  }

  /** Writes one puffin file holding `vectors` and commits their DV entries:
    * a pure append when nothing is dropped, otherwise a delete-tree rewrite
    * that keeps every live delete entry of `all` EXCEPT the vectors'
    * superseded DVs and `dropAlso`. Shared by [[appendDeletionVectors]] and
    * [[graft.table.Maintenance.convertPositionDeletesToDVs]]. */
  private[graft] def commitDeletionVectors(spark: SparkSession, table: IceTable,
                                           branch: Option[String],
                                           all: Seq[ManifestEntry],
                                           vectors: Seq[DeletionVector],
                                           dropAlso: Seq[ManifestEntry]): IceTable = {
    import graft.table.Puffin
    val hconf = spark.sparkContext.hadoopConfiguration
    val puffinPath = s"${table.location}/data/${UUID.randomUUID()}-deletes.puffin"
    val blobs = vectors.map { dv =>
      Puffin.BlobSpec(Puffin.dvBlobBytes(dv.vector), Puffin.DeletionVectorV1,
        properties = Map("referenced-data-file" -> dv.path,
          "cardinality" -> dv.vector.cardinality.toString))
    }
    val (fileLen, metas) = Puffin.write(hconf, puffinPath, blobs,
      snapshotId = -1L, sequenceNumber = -1L)
    val dvFiles = vectors.zip(metas).map { case (dv, meta) =>
      DataFile(
        content = ContentPositionDeletes,
        filePath = puffinPath,
        fileFormat = FormatPuffin,
        partition = Seq.empty,
        recordCount = dv.vector.cardinality,
        fileSizeInBytes = fileLen,
        referencedDataFile = Some(dv.path),
        contentOffset = Some(meta.offset),
        contentSizeInBytes = Some(meta.length))
    }
    val drop = dropAlso ++ vectors.flatMap(_.supersedes)
    if (drop.isEmpty)
      table.newTransaction(branch).appendDeletes(dvFiles).commit()
    else {
      val keep = all.filter(e => e.dataFile.content != ContentData &&
        !drop.exists(_ eq e))
      table.newTransaction(branch).rewriteDeletes(keep, dvFiles).commit()
    }
  }

  /** Compaction / full rewrite (T3): reads current content, rewrites it as
    * one balanced file set, commits a replace snapshot. `keepLayout` writes
    * the DataFrame's existing partitioning verbatim (the caller already
    * arranged a clustering layout, e.g. z-order ranges).
    *
    * Reference semantics: the replace commit REMOVES the superseded
    * snapshots (branch/tag-reachable lineage excepted) and physically
    * deletes their unshared files — a DataFrame planned over the
    * pre-replace snapshot must be acted on before the replace lands, and
    * time travel across a bare replace requires a protecting ref.
    */
  def replaceWith(spark: SparkSession, table: IceTable, df: DataFrame,
                  branch: Option[String] = None, keepLayout: Boolean = false,
                  localSort: Seq[Column] = Nil): IceTable = {
    val files = writeDataFiles(spark, table, df, table.schema, keepLayout = keepLayout,
      localSort = localSort)
    table.newTransaction(branch).replace(files).commit()
  }

  private[graft] def writeDataFiles(spark: SparkSession, table: IceTable, df: DataFrame,
                                    writeSchema: IceSchema, content: Int = ContentData,
                                    equalityIds: Seq[Int] = Nil,
                                    keepLayout: Boolean = false,
                                    localSort: Seq[Column] = Nil,
                                    outFiles: Option[Int] = None,
                                    branch: Option[String] = None): Seq[DataFile] = {
    val spec = table.spec
    val props = table.metadata.properties
    // ISOLATED write session (shared SparkContext / catalog / cache
    // manager, fresh SQLConf): the iceberg write settings live and die
    // with the child, so a CONCURRENT query on the caller's session — a
    // streaming micro-batch, another thread's scan — can never be planned
    // under them. Nothing to restore, even on throw. (The zstd level on
    // the context-global hadoopConfiguration is kept: it only applies
    // where the codec is zstd, which non-graft writes don't set.)
    // The child is MEMOIZED per parent: its confs are constant across
    // calls, and building a SessionState per write (analyzer, optimizer,
    // catalog wrappers) showed up as a 30-60% tax on every write-path
    // query in the round-10 bench.
    val writeSession = IceWrite.writeSessionFor(spark)
    val dfw = org.apache.spark.sql.GraftShim.ofRows(writeSession,
      df.queryExecution.analyzed)
    spark.sparkContext.hadoopConfiguration.set("parquet.compression.codec.zstd.level",
      props.getOrElse("write.parquet.compression-level", "1"))

    val stagingDir = s"${table.location}/data/${UUID.randomUUID()}"
    // align to schema order/names/types and attach field-id metadata so the
    // parquet writer emits PARQUET:field_id (id-based column resolution —
    // the rename-safe read path, SURVEY §7 hard-part 1)
    val targetSchema = writeSchema.toSpark
    val dfCols = dfw.columns.toSet
    val aligned = dfw.select(writeSchema.fields.map { f =>
      // a column the writer omitted fills from its WRITE default (V3
      // semantics; SQL INSERT fills via Spark's CURRENT_DEFAULT metadata,
      // this covers programmatic appends)
      val src =
        if (dfCols.contains(f.name)) col(f.name)
        else f.writeDefault match {
          case Some(v) => graft.spec.DefaultValues.toColumn(f.fieldType, v)
          case None => col(f.name) // unresolvable → the analyzer errors loudly
        }
      src.cast(IceType.toSpark(f.fieldType)).as(f.name, targetSchema(f.name).metadata)
    }: _*)

    // Equality-delete files are PARTITION-SCOPED when every partition
    // source column is among the delete columns: each delete row lands in
    // the dir its own values derive (the same transform the data rows
    // used), so a scoped file masks exactly what the global file would —
    // while the read fold's affected-tag map and per-partition maintenance
    // see O(affected partitions) of delete metadata instead of one opaque
    // global blob (the Iceberg spec's partition-scoped delete contract).
    // Position deletes and eq deletes missing a partition source stay
    // global: their rows cannot be scoped safely. Neither can a scoped
    // delete while any LIVE file predates the current spec: data files
    // written under an older spec carry a foreign partition tuple, read
    // with a null tag, and a scoped file's tag-keyed anti-join would
    // silently skip them — deleted rows would resurface. The gate is
    // "every live manifest (data AND delete) carries the current specId"
    // (one never-evolved spec passes trivially without reading the
    // manifest list): an evolved table that has since compact()ed — which
    // rewrites all data under the default spec and materializes/drops all
    // delete files — resumes scoped writes. Checked driver-side from the
    // manifest list only, O(manifests) — of the snapshot the delete will
    // COMMIT against (`branch`): a branch pinned before the compaction
    // still reaches old-spec data files even when main is clean, and a
    // scoped file committed there would silently skip them.
    def allLiveManifestsCurrentSpec: Boolean =
      table.metadata.partitionSpecs.size == 1 ||
        table.currentSnapshot(branch).forall(snap =>
          table.manifests(snap).forall(_.partitionSpecId == table.metadata.defaultSpecId))
    val partFields =
      if (content == ContentData) spec.fields
      else if (content == ContentEqualityDeletes && spec.fields.nonEmpty &&
               spec.fields.forall(pf => writeSchema.fieldById(pf.sourceId).isDefined) &&
               allLiveManifestsCurrentSpec)
        spec.fields
      else Nil
    // default write sort order (clustering): range-partition + local sort on
    // unpartitioned tables (disjoint per-file bounds → max statistics
    // pruning); local sort inside each partition dir on partitioned tables
    val sortCols: Seq[Column] =
      if (content != ContentData) Nil
      else table.metadata.sortOrders.getOrElse(table.metadata.defaultSortOrderId,
        graft.spec.SortOrder.unsorted).fields.flatMap { sf =>
        writeSchema.fieldById(sf.sourceId).map { src =>
          val base = sf.transform.column(col(src.name), IceType.toSpark(src.fieldType))
          (sf.direction, sf.nullOrder) match {
            case ("desc", "nulls-last") => base.desc_nulls_last
            case ("desc", _) => base.desc_nulls_first
            case (_, "nulls-last") => base.asc_nulls_last
            case _ => base.asc_nulls_first
          }
        }
      }
    // physical partition-dir columns carry a reserved prefix: the writer
    // REMOVES partition columns from the file contents, and an
    // identity-transform partition field shares its source column's name —
    // without the prefix the source column itself would vanish from the
    // data files
    def physName(pf: graft.spec.PartitionField): String = PartColPrefix + pf.name
    // the write plan is built ONCE: the write executes the query's own
    // physical plan, with no separate sizing or command planning pass
    val (laidOut, layout): (DataFrame, SparkPlan => SparkPlan) =
      if (partFields.nonEmpty) {
        val sparkSchema = aligned.schema
        val partCols = partFields.map(pf => col(physName(pf)))
        val repart = aligned.select(col("*") +: partFields.map { pf =>
          val srcName = writeSchema.fieldById(pf.sourceId).get.name
          pf.transform.column(col(srcName), sparkSchema(srcName).dataType).as(physName(pf))
        }: _*).repartition(partCols: _*)
        // local sort prefixed by the partition-dir columns: one shuffle task
        // may hold SEVERAL dirs, and each dir's files only get tight bounds /
        // clustering (e.g. partitioned z-order) if its rows arrive contiguous
        // and ordered
        val effSort = localSort ++ sortCols
        (if (effSort.nonEmpty) repart.sortWithinPartitions(partCols ++ effSort: _*) else repart,
          plan => plan)
      } else if (keepLayout) (aligned, plan => plan)
      else {
        // write fan-in gated on the optimizer's output-size estimate: small
        // writes coalesce (fewer, larger files keep the manifest tree small),
        // but a write whose estimated bytes already justify ≥inParts
        // target-size files keeps FULL parallelism — unconditional /4 would
        // quarter cluster-scale writes. An explicit outFiles hint wins:
        // callers that KNOW the output cardinality (MV merges bounded by
        // group count + manifest-exact stored rows) skip the optimizer's
        // join-size guesses, which over-estimate badly and fan tiny outputs
        // across the cluster. inParts is the partition count of the query's
        // RDD, built once from its plan; the coalesce or range shape is then
        // planned over that same RDD (a LogicalRDD), so the optimizer still
        // owns the sort expressions and the query is not planned twice.
        (aligned, { plan =>
          val input = plan.execute()
          val nOut = outFiles.getOrElse {
            val inParts = input.getNumPartitions
            val targetFileBytes = props.getOrElse("write.target-file-size-bytes",
              (512L << 20).toString).toLong
            val estBytes = aligned.queryExecution.optimizedPlan.stats.sizeInBytes
            val idealFiles = ((estBytes + targetFileBytes - 1) / targetFileBytes)
              .min(BigInt(inParts)).max(BigInt(1)).toInt
            math.min(inParts, math.max(idealFiles, math.max(1, inParts / 4)))
          }
          val in = org.apache.spark.sql.GraftShim.ofRows(writeSession, LogicalRDD(plan.output, input)(
            writeSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
          val out =
            if (sortCols.isEmpty) in.coalesce(nOut) // coalesce above inParts is a no-op
            else in.repartitionByRange(nOut, sortCols: _*).sortWithinPartitions(sortCols: _*)
          out.queryExecution.executedPlan
        })
      }

    // parquet bloom filters (point-lookup row-group skipping): table property
    // write.parquet.bloom-filter-enabled.column.<col>=true feeds the writer's
    // per-column option; parquet-mr then skips row groups on = predicates
    val BloomProp = "write.parquet.bloom-filter-enabled.column."
    val options = CaseInsensitiveMap(props.collect {
      case (k, v) if k.startsWith(BloomProp) =>
        s"parquet.bloom.filter.enabled#${k.stripPrefix(BloomProp)}" -> v
    } ++ Map(
      "compression" -> props.getOrElse("write.parquet.compression-codec", "zstd"),
      "maxRecordsPerFile" -> props.getOrElse("write.max-records-per-file", "10000000")))
    // the write's conf carries its keys but not their per-key source
    // records: serializing a conf gzips every key's sources, ~8 ms of driver
    // CPU per copy of the ~1100-key conf, and each write serializes two
    // copies (the job's and the trackers') twice (closure check, task binary)
    val hadoopConf = new Configuration(false)
    hadoopConf.addResource(writeSession.sessionState.newHadoopConfWithOptions(options))
    // each task commit moves its files straight into the staging dir, so
    // the job commit on the driver lists and renames nothing. The staging
    // dir is private until the manifest commit, which names only the files
    // of committed tasks, so no reader can see a partial job; a failed job's
    // staging dir is removed below.
    hadoopConf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    // nothing reads a `_SUCCESS` marker: the manifest names the files
    hadoopConf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    val (basicStats, taskConf) = org.apache.spark.sql.GraftShim.basicWriteStatsTracker(hadoopConf)
    val staging = new Path(stagingDir)
    val fs = staging.getFileSystem(hadoopConf)
    val partTypes = partFields.map(pf => laidOut.schema(physName(pf)).dataType)
    val tracker = new DataFileTracker(taskConf, fs.makeQualified(staging).toUri.getPath,
      writeSchema, partFields.map(_.name), partTypes, content, equalityIds)
    val committer = FileCommitProtocol.instantiate(
      writeSession.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = stagingDir)
    val qe = laidOut.queryExecution
    try SQLExecution.withNewExecutionId(qe) {
      val plan = layout(qe.executedPlan)
      val partAttrs = partFields.map(pf => plan.output.find(_.name == physName(pf)).get)
      FileFormatWriter.write(
        writeSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
        new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(stagingDir, Map.empty, plan.output), hadoopConf,
        partAttrs, bucketSpec = None, statsTrackers = Seq(basicStats, tracker), options)
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true) catch { case d: Exception => e.addSuppressed(d) }
        throw e
    }
    withDistinctCounts(spark, table, writeSchema, content, tracker.files)
  }

  /** distinct_counts population (A4; reference leaves the manifest field
    * empty, parquet.rs:85-90): one extra per-file approx_count_distinct
    * aggregation over the just-written files, opt-in via table property —
    * unlike the footer stats it reads data pages, so it is priced as a
    * deliberate write-time trade for optimizer NDV stats. */
  private def withDistinctCounts(spark: SparkSession, table: IceTable, writeSchema: IceSchema,
                                 content: Int, files: Seq[DataFile]): Seq[DataFile] = {
    val primFields = writeSchema.fields.filter(_.fieldType match {
      case _: IceType.StructT | _: IceType.ListT | _: IceType.MapT => false
      case _ => true
    })
    if (content != ContentData || files.isEmpty || primFields.isEmpty ||
        !table.metadata.properties.get("write.metadata.distinct-counts.enabled").contains("true"))
      files
    else {
      val aggs = primFields.map(f => approx_count_distinct(col(f.name)).as(f.name))
      val distinctByFile: Map[String, Map[Int, Long]] =
        IceScan.readFiles(spark, files.map(ManifestEntry(StatusAdded, None, None, None, _)),
            writeSchema.toSpark)
          .groupBy(col("_metadata.file_path").as("__p"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // one row per written file — metadata scale
          .map(r => new Path(r.getString(0)).getName ->
            primFields.zipWithIndex.map { case (f, i) => f.id -> r.getLong(i + 1) }.toMap)
          .toMap
      files.map(d => d.copy(distinctCounts =
        distinctByFile.getOrElse(new Path(d.filePath).getName, Map.empty)))
    }
  }

  /** One write's `DataFile` collector (Spark's `BasicWriteJobStatsTracker`
    * is the model). Each task reads the footer of every file it closes,
    * with the write's own Hadoop conf, and hands the stats back with its
    * task commit; the driver receives only the committed tasks' stats and
    * sorts them by path (the manifest order). The partition tuple is the
    * typed row the writer split on — no directory name is parsed back. A
    * file's committed path is the staging dir plus the temp path's last
    * `partNames.size + 1` segments (partition dirs and file name). Each
    * write owns its tracker, so concurrent writes share no state. */
  private final class DataFileTracker(conf: () => Configuration, stagingPath: String,
                                      schema: IceSchema, partNames: Seq[String],
                                      partTypes: Seq[DataType], content: Int,
                                      equalityIds: Seq[Int]) extends WriteJobStatsTracker {
    @transient @volatile private var collected: Seq[DataFile] = Nil

    def files: Seq[DataFile] = collected

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private var partition: Seq[(String, Any)] = Nil
      private val open = scala.collection.mutable.Map.empty[String, Seq[(String, Any)]]
      private val done = scala.collection.mutable.ArrayBuffer.empty[DataFile]

      // a partition's first row arrives BEFORE the previous file closes,
      // so each file keeps the partition it was opened under
      override def newPartition(values: InternalRow): Unit =
        partition = partNames.indices.map(i => partNames(i) -> partitionValue(values, i))
      override def newFile(path: String): Unit = open(path) = partition
      override def closeFile(path: String): Unit = {
        val tail = new Path(path).toUri.getPath.split('/').takeRight(partNames.size + 1)
        done += ParquetStats.dataFile(path, conf(), schema, open.remove(path).getOrElse(partition),
          content, equalityIds).copy(filePath = (stagingPath +: tail).mkString("/"))
      }
      override def newRow(path: String, row: InternalRow): Unit = ()
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = WrittenFiles(done.toSeq)
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitDuration: Long): Unit =
      collected = stats.flatMap { case WrittenFiles(fs) => fs }.sortBy(_.filePath)

    /** The canonical manifest value: Int for transform outputs, int and
      * date (epoch days), Long for long, String for string. */
    private def partitionValue(row: InternalRow, i: Int): Any =
      if (row.isNullAt(i)) null
      else partTypes(i) match {
        case _: StringType => row.getUTF8String(i).toString
        case t => row.get(i, t)
      }
  }

  private final case class WrittenFiles(files: Seq[DataFile]) extends WriteTaskStats

  /** Imports EXISTING parquet files into the table IN PLACE (no copy, no
    * rewrite): footer-scrapes each file under `sourceDir` (hive-style
    * `name=value` dirs map to identity partition values), appends them in
    * one transaction, and marks the table name-mapped
    * ([[IceScan.NameMappingProp]]) so reads resolve the id-less files by
    * column name. The migration path for data born outside the table format
    * — at 100 TB, rewriting is the thing to avoid.
    */
  def addFiles(spark: SparkSession, table: IceTable, sourceDir: String,
               branch: Option[String] = None): (IceTable, Seq[DataFile]) = {
    val m = table.metadata
    // name resolution requires stable names: a past RENAME means old files
    // carry old names — importing would silently mis-resolve them
    val renamed = m.schemas.values.flatMap(_.fields.map(f => f.id -> f.name))
      .groupBy(_._1).exists(_._2.map(_._2).toSet.size > 1)
    require(!renamed,
      "add_files requires a rename-free schema history: imported files resolve by column name")
    require(table.spec.fields.forall(_.transform == Transform.Identity),
      "add_files supports identity-partitioned or unpartitioned tables " +
        "(transform values cannot be derived from directory names)")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(sourceDir).getFileSystem(conf)
    val partTypes: Map[String, IceType] =
      table.spec.partitionType(table.schema).fields.map(f => f.name -> f.fieldType).toMap
    val paths = sortedPathsOf(fs, sourceDir)
    require(paths.nonEmpty, s"no parquet files under $sourceDir")
    val specOrder = table.spec.fields.map(_.name)
    val files0 = statsFiles(paths, sourceDir.stripSuffix("/"), conf, table.schema, partTypes)
    // every required column AND every partition source column must exist in
    // every imported file: a missing optional column reads as null (fine),
    // a missing required one is corruption waiting for a scan — and unlike
    // Iceberg readers, this scan does NOT constant-fill identity partition
    // columns from partition metadata, so hive layouts that strip the
    // partition column from file contents are rejected rather than read as
    // nulls
    val requiredIds = (table.schema.fields.filter(_.required).map(_.id) ++
      table.spec.fields.map(_.sourceId)).toSet
    files0.foreach { f =>
      val present = f.valueCounts.keySet
      val missing = requiredIds -- present
      require(missing.isEmpty,
        s"${f.filePath} lacks required column(s) ${missing.flatMap(table.schema.fieldById).map(_.name).mkString(", ")} " +
          "(imported files must physically contain partition source columns)")
      // identity-partitioned: the dir-derived partition tuple must be complete
      require(f.partition.map(_._1).toSet == partTypes.keySet,
        s"${f.filePath}: partition dirs ${f.partition.map(_._1).mkString(",")} do not match spec ${partTypes.keySet.mkString(",")}")
    }
    // normalize each (validated-complete) partition tuple to SPEC FIELD
    // ORDER: external layouts may nest dirs in any order, but FieldSummary
    // bounds are positional against the spec — an out-of-order tuple would
    // attribute one field's bounds to another and silently mis-prune
    val files = files0.map(f =>
      f.copy(partition = specOrder.flatMap(n => f.partition.find(_._1 == n))))
    val committed = table.newTransaction(branch).appendData(files)
      .updateProperties(Map(IceScan.NameMappingProp -> "identity")).commit()
    (committed, files)
  }

  /** Hive partition-dir string → canonical JVM value. Transform outputs are
    * ints/longs/strings, but identity partitions keep the SOURCE type:
    * Spark renders a DateType dir as ISO "2020-01-01", which must parse back
    * to Iceberg's canonical epoch days. */
  private[graft] def parsePartitionValue(t: Option[IceType], raw: String): Any = t match {
    case Some(IceType.IntT) => raw.toInt
    case Some(IceType.DateT) =>
      if (raw.forall(c => c.isDigit || c == '-') && !raw.contains("--") && raw.count(_ == '-') == 2)
        java.time.LocalDate.parse(raw).toEpochDay.toInt
      else raw.toInt // transform outputs (year/month/day ordinals) are plain ints
    case Some(IceType.LongT) => raw.toLong
    case _ => raw
  }

  private def sortedPathsOf(fs: FileSystem, dir: String): Seq[String] = {
    val it = fs.listFiles(new Path(dir), true)
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) paths += f.getPath.toUri.getPath
    }
    paths.toSeq.sorted
  }

  private def statsFiles(sortedPaths: Seq[String], baseDir: String, conf: Configuration,
                         schema: IceSchema, partTypes: Map[String, IceType]): Seq[DataFile] = {
    // footer scraping of imported files (they have no writer to report
    // their stats) is per-file independent driver IO: a bounded thread
    // pool; result order stays the sorted path order, so manifests are
    // deterministic.
    def statsOf(p: String): DataFile = {
      val rel = p.stripPrefix(baseDir).split('/').filter(_.nonEmpty)
      val partition: Seq[(String, Any)] = rel.init.flatMap { seg =>
        val i = seg.indexOf('=')
        if (i < 0) None
        else {
          val name = seg.take(i)
          val raw = ExternalCatalogUtils.unescapePathName(seg.drop(i + 1))
          val v: Any =
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else parsePartitionValue(partTypes.get(name), raw)
          Some(name -> v)
        }
      }.toSeq
      ParquetStats.dataFile(p, conf, schema, partition)
    }
    if (sortedPaths.size <= 1) sortedPaths.map(statsOf)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, sortedPaths.size))
      try {
        sortedPaths
          .map(p => pool.submit(new java.util.concurrent.Callable[DataFile] {
            override def call(): DataFile = statsOf(p)
          }))
          .map(_.get())
      } finally pool.shutdown()
    }
  }
}

/** Snapshot-aware scan → DataFrame (reference: S1 — datafusion_iceberg/src/
  * table.rs:162-728). Planning is driver-side and O(manifests): manifest
  * pruning via partition summaries (P3), file pruning via column min/max,
  * then relations built straight from the surviving manifest entries
  * ([[readFiles]]: the manifest is the file index, no listing or stat).
  * Catalyst re-applies filters (Inexact semantics) and handles projection
  * pruning, so pruning here only ever removes IO, never correctness.
  */
object IceScan {

  final case class ScanOptions(
      snapshotId: Option[Long] = None,
      branch: Option[String] = None,
      /** Incremental: only files with sequence number in (after, until]. */
      afterSequence: Option[Long] = None,
      /** Restrict the scan to specific DATA files (delete files still
        * apply) — maintenance rewrites read exactly their input set. */
      dataFileFilter: Option[String => Boolean] = None,
      /** Iceberg V3 row lineage: expose `_row_id` and
        * `_last_updated_sequence_number` columns — virtual
        * (first_row_id + position) for files with assigned lineage,
        * read directly where a rewrite MATERIALIZED them. */
      rowLineage: Boolean = false)

  /** Iceberg name-mapping property: set (to "identity") when the table
    * holds files WITHOUT parquet field ids — e.g. imported in place by
    * `CALL system.add_files` — so reads must resolve columns by NAME.
    * (Reference models the property on table metadata;
    * iceberg-rust-spec/src/spec/table_metadata.rs properties.)
    */
  val NameMappingProp = "schema.name-mapping.default"

  /** Canonical partition tag: the manifest's raw Avro partition values
    * rendered to one stable string. Byte arrays hex-encode
    * (Object.toString is identity-based and would give the SAME partition
    * different tags per manifest entry); null renders as a reserved
    * sentinel. Every [[readFiles]] row carries its file's tag as the
    * `_metadata.partition_tag` constant — the key of the MoR read's
    * scoped equality masks and of Maintenance's eq->pos conversion. */
  private[graft] def pkTag(p: Seq[(String, Any)]): String = p.map {
    case (_, null) => "\u0000"
    case (_, b: Array[Byte]) => b.map("%02x".format(_)).mkString
    case (_, b: java.nio.ByteBuffer) =>
      val d = b.duplicate; val a = new Array[Byte](d.remaining); d.get(a)
      a.map("%02x".format(_)).mkString
    case (_, v) => v.toString
  }.mkString("\u0001")

  /** The delete-scoping rule, shared by the MoR read masks and the eq->pos
    * conversion in [[graft.table.Maintenance]]: a delete file written
    * unpartitioned (global equality delete) round-trips through the
    * manifest's partition struct as all-null values, so only a delete with
    * a real partition tuple of the data files' arity is scoped to that
    * partition; every other delete applies table-wide. */
  private[graft] def scopedDelete(data: Seq[ManifestEntry]): ManifestEntry => Boolean = {
    val arity = data.headOption.map(_.dataFile.partition.size).getOrElse(0)
    d => {
      val p = d.dataFile.partition
      arity > 0 && p.size == arity && p.exists(_._2 != null)
    }
  }

  /** Renders a manifest-stored path FileSystem-qualified (any scheme), the
    * form [[readFiles]] hands Spark, so it equals the `_metadata.file_path`
    * that positional-delete rows and DV `referenced_data_file` store — the
    * ONE definition of path equality between manifest entries and those
    * keys (the positional-delete live-path joins compare through it). */
  private[graft] def qualifiedPath(hconf: org.apache.hadoop.conf.Configuration,
                                   p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(hconf).makeQualified(hp).toString
  }

  /** The one reader of table files: a DataFrame over exactly `entries`
    * (data or delete files the table lists) read with `schema`. The
    * relation is built straight from the manifest — a [[ManifestFileIndex]]
    * at the manifest's sizes, no `DataSource` resolution, no stat or
    * listing — and each file's partition tag, sequence number and
    * `first_row_id` ride as `_metadata` constants ([[ManifestParquetFormat]]).
    *
    * The entries' exact row and byte sums (and, for the field ids
    * `columnOf` names, the summed distinct_counts — a safe overestimate) reach
    * the optimizer as the relation's catalog statistics (the DSv2
    * `SupportsReportStatistics` analogue; reference:
    * datafusion_iceberg/src/statistics.rs:20-146). With
    * `spark.sql.cbo.enabled` or planStats Spark then sizes the plan from
    * rows × row width instead of compressed file bytes, which
    * under-estimate broadcast memory several-fold at scale; with both off
    * the byte sum equals the file index's, so default planning is unchanged.
    */
  private[graft] def readFiles(spark: SparkSession, entries: Seq[ManifestEntry],
                               schema: org.apache.spark.sql.types.StructType,
                               columnOf: Int => Option[String] = _ => None): DataFrame = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
    // id-based column resolution (rename-safe); tolerate id-less files.
    // Set on the CALLER's session and deliberately NOT restored: the
    // returned DataFrame plans lazily, and Spark reads these flags from the
    // conf of the session that runs the action — restoring here would
    // silently revert the caller's later action to name-based resolution.
    // Neither a per-relation option nor a child session carrying the flags
    // is an alternative in stock Spark: ParquetFileFormat overwrites these
    // keys from the session conf, and a child-session relation acted on by
    // the caller reads nulls (checked on Spark 4.1.2; see the
    // ConfHygieneSpec class doc). Both flags are no-ops for schemas without
    // field-id metadata, so leaving them set is safe for non-graft reads.
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = entries.map { e =>
      val d = e.dataFile
      val tag = if (d.partition.exists(_._2 != null)) pkTag(d.partition) else null
      FileStatusWithMetadata(
        new org.apache.hadoop.fs.FileStatus(d.fileSizeInBytes, false, 0, 0L, 0L,
          new org.apache.hadoop.fs.Path(qualifiedPath(hconf, d.filePath))),
        Map(ManifestParquetFormat.PartitionTag -> tag,
          ManifestParquetFormat.SequenceNumber -> Long.box(e.sequenceNumber.getOrElse(0L)),
          ManifestParquetFormat.FirstRowId -> d.firstRowId.map(Long.box).orNull))
    }
    val dataSchema = org.apache.spark.sql.GraftShim.nullable(schema)
    val ndv = entries.iterator.flatMap(_.dataFile.distinctCounts).toSeq
      .groupBy(_._1).flatMap { case (id, xs) =>
        columnOf(id).map(_ -> CatalogColumnStat(distinctCount = Some(BigInt(xs.map(_._2).sum))))
      }
    val stats = CatalogStatistics(
      entries.iterator.map(e => BigInt(e.dataFile.fileSizeInBytes)).sum,
      Some(entries.iterator.map(e => BigInt(e.dataFile.recordCount)).sum), ndv)
    val relation = HadoopFsRelation(ManifestFileIndex(files), new org.apache.spark.sql.types.StructType(),
      dataSchema, None, new ManifestParquetFormat, Map.empty)(spark)
    org.apache.spark.sql.GraftShim.ofRows(spark, LogicalRelation(relation, CatalogTable(
      identifier = TableIdentifier("__graft_scan"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = dataSchema,
      provider = Some("parquet"),
      stats = Some(stats))))
  }

  /** The Spark schema a scan should read with: field-id metadata drives
    * id-based (rename-safe) resolution, EXCEPT on name-mapped tables, where
    * id-less imported files would resolve every column to null — there the
    * ids are stripped so Spark falls back to name resolution for ALL files
    * (rename is rejected on such tables, so names are stable).
    */
  private[graft] def readSparkSchema(table: IceTable, schema: IceSchema): org.apache.spark.sql.types.StructType =
    if (!table.metadata.properties.contains(NameMappingProp)) schema.toSpark
    else stripFieldIds(schema.toSpark).asInstanceOf[org.apache.spark.sql.types.StructType]

  private def stripFieldIds(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val md = new MetadataBuilder().withMetadata(f.metadata).remove("parquet.field.id").build()
        f.copy(dataType = stripFieldIds(f.dataType), metadata = md)
      })
      case a: ArrayType => a.copy(elementType = stripFieldIds(a.elementType))
      case m: MapType => m.copy(keyType = stripFieldIds(m.keyType),
        valueType = stripFieldIds(m.valueType))
      case other => other
    }
  }

  def scan(spark: SparkSession, table: IceTable, filters: Seq[Column] = Nil,
           options: ScanOptions = ScanOptions()): DataFrame = {
    val df = scanInternal(spark, table, options,
      sch => resolveFilters(spark, sch, filters))
    // re-apply (Inexact pruning semantics): stats pruning only removes IO
    filters.foldLeft(df)(_ filter _)
  }

  /** SQL read-path entry ([[org.apache.spark.sql.GraftReadRule]]): prunes
    * manifests and files with ALREADY-RESOLVED Catalyst predicates (the
    * optimizer's conjuncts over the relation output) and does NOT re-apply
    * them — the caller keeps its own `Filter` node on top, so graft's
    * inexact stats pruning stays IO-only while Spark preserves exactness.
    */
  def scanResolved(spark: SparkSession, table: IceTable,
                   exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                   options: ScanOptions = ScanOptions()): DataFrame =
    scanInternal(spark, table, options, _ => exprs)

  private def scanInternal(spark: SparkSession, table: IceTable, options: ScanOptions,
                           exprsFor: org.apache.spark.sql.types.StructType =>
                             Seq[org.apache.spark.sql.catalyst.expressions.Expression]): DataFrame = {
    val snapshot: Option[Snapshot] = options.snapshotId
      .flatMap(table.snapshotById)
      .orElse(table.currentSnapshot(options.branch))
    // current reads use the current schema; explicit time travel pins the
    // schema-at-snapshot (T6, table.rs:275-296)
    val schema =
      if (options.snapshotId.isDefined) table.metadata.schemaAt(snapshot)
      else table.metadata.currentSchema
    val sparkSchema = readSparkSchema(table, schema)

    snapshot match {
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sparkSchema)
      case Some(snap) =>
        val exprs = exprsFor(sparkSchema)
        val entries = prunedEntries(table, schema, snap, exprs, options.afterSequence)
        val (data0, deletes) = entries.partition(_.dataFile.content == ContentData)
        val data = options.dataFileFilter
          .map(f => data0.filter(e => f(e.dataFile.filePath))).getOrElse(data0)
        buildDataFrame(spark, table, schema, sparkSchema, data, deletes,
          rowLineage = options.rowLineage)
    }
  }

  /** Data-file entries surviving manifest + file-stats pruning for
    * `filters` at `snap` — the write paths (positional DELETE/UPDATE target
    * reads) share the scan's pruning instead of reading every file. */
  private[graft] def prunedDataFiles(spark: SparkSession, table: IceTable,
                                     filters: Seq[Column], snap: Snapshot): Seq[ManifestEntry] = {
    val schema = table.metadata.currentSchema
    val exprs = resolveFilters(spark, schema.toSpark, filters)
    prunedEntries(table, schema, snap, exprs, None)
      .filter(_.dataFile.content == ContentData)
  }

  /** CDC changelog read (natural S4 extension of the incremental scan;
    * snapshot-diff semantics): every row visible at `until` but not at
    * `after` carries `_change_type = 'insert'`, every row visible at `after`
    * but not at `until` carries `'delete'` — net changes, like diffing the
    * two snapshots. An append-only window never pays a diff: inserts stream
    * straight off the window's new data files via the incremental scan (at
    * 100 TB this is the common path — O(window), not O(table)); only a
    * window containing delete commits falls back to the EXCEPT ALL diff of
    * the two pinned scans.
    */
  def changelog(spark: SparkSession, table: IceTable, afterSnapshotId: Long,
                untilSnapshotId: Option[Long] = None): DataFrame = {
    val ChangeCol = "_change_type"
    val from = table.snapshotById(afterSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $afterSnapshotId"))
    // an EXPLICIT until id must resolve — silently widening a mistyped or
    // expired id to the current snapshot would misattribute changes
    val to = untilSnapshotId match {
      case Some(id) => table.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(s"unknown snapshot $id"))
      case None => table.currentSnapshot(None)
        .getOrElse(throw new IllegalStateException("table has no current snapshot"))
    }
    val windowEntries = table.entries(to, Some(from.sequenceNumber), _ => true)
    // the fast path requires every commit in the window to be a pure
    // APPEND: a rewrite (binpack rewrite_data_files, rewrite_manifests)
    // introduces files at a NEW sequence number that carry only OLD rows —
    // sequence-keyed streaming would re-emit them as inserts. The snapshot
    // chain's operation summaries are the authority, not just file content.
    val windowOps = table.metadata.ancestorsOf(to.snapshotId)
      .takeWhile(_ != from.snapshotId)
      .flatMap(table.snapshotById).flatMap(_.summary.get("operation"))
    val appendOnly = windowEntries.forall(_.dataFile.content == ContentData) &&
      windowOps.forall(_ == "append")
    if (appendOnly)
      scanResolved(spark, table, Nil, ScanOptions(
        snapshotId = Some(to.snapshotId), afterSequence = Some(from.sequenceNumber)))
        .withColumn(ChangeCol, lit("insert"))
    else {
      val before = scanResolved(spark, table, Nil, ScanOptions(snapshotId = Some(from.snapshotId)))
      val after = scanResolved(spark, table, Nil, ScanOptions(snapshotId = Some(to.snapshotId)))
      after.exceptAll(before).withColumn(ChangeCol, lit("insert"))
        .unionByName(before.exceptAll(after).withColumn(ChangeCol, lit("delete")))
    }
  }

  /** CDC with UPDATE IMAGES (the V3 row-lineage payoff): diffs two
    * snapshots keyed by `_row_id`, so a row REWRITTEN by UPDATE surfaces as
    * an `update_before`/`update_after` pair instead of the delete+insert
    * the value-diff [[changelog]] degrades to. Output: `_row_id`,
    * `_change_type` ∈ insert | delete | update_before | update_after, then
    * the data columns. One shuffle join on the long row-id key + a single
    * projection pass (the per-row change set rides an exploded array —
    * unchanged rows explode to nothing), never a per-branch re-scan.
    *
    * Requires `write.row-lineage.enabled` (ids must exist and UPDATEs must
    * preserve them — [[graft.spark.sql.GraftUpdateCommand]] materializes
    * `_row_id` into the rewritten generation).
    */
  def changelogWithUpdates(spark: SparkSession, table: IceTable, afterSnapshotId: Long,
                           untilSnapshotId: Option[Long] = None): DataFrame = {
    require(table.metadata.properties.get("write.row-lineage.enabled").contains("true"),
      "changelogWithUpdates needs write.row-lineage.enabled=true (update pairs are keyed by _row_id)")
    val from = table.snapshotById(afterSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $afterSnapshotId"))
    val to = untilSnapshotId match {
      case Some(id) => table.snapshotById(id).getOrElse(
        throw new IllegalArgumentException(s"unknown snapshot $id"))
      case None => table.currentSnapshot(None)
        .getOrElse(throw new IllegalStateException("table has no current snapshot"))
    }
    val dataCols = table.metadata.schemaAt(Some(to)).fields.map(_.name)
    def imaged(snapId: Long, alias: String): DataFrame =
      scanResolved(spark, table, Nil,
        ScanOptions(snapshotId = Some(snapId), rowLineage = true))
        .select(col("_row_id"), struct(dataCols.map(col): _*).as(alias))
    val b = imaged(from.snapshotId, "__cdc_b")
    val a = imaged(to.snapshotId, "__cdc_a")
    val joined = b.join(a, Seq("_row_id"), "full_outer")
    def tagged(tag: String, img: Column) = struct(lit(tag).as("_change_type"), img.as("__img"))
    val changes = joined.select(col("_row_id"),
      explode(
        when(col("__cdc_b").isNull, array(tagged("insert", col("__cdc_a"))))
          .when(col("__cdc_a").isNull, array(tagged("delete", col("__cdc_b"))))
          .when(!(col("__cdc_a") <=> col("__cdc_b")),
            array(tagged("update_before", col("__cdc_b")),
              tagged("update_after", col("__cdc_a"))))
          .otherwise(lit(null))).as("__c"))
    changes.select(col("_row_id") +: col("__c._change_type") +:
      dataCols.map(c => col(s"__c.__img.$c")): _*)
  }

  /** Resolves user filter Columns against the table schema by running the
    * analyzer over a scratch plan, yielding typed Catalyst predicates
    * (AttributeReference vs Cast(Literal)) the pruning evaluator can match.
    */
  private def resolveFilters(spark: SparkSession,
                             sparkSchema: org.apache.spark.sql.types.StructType,
                             filters: Seq[Column]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (filters.isEmpty) return Nil
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), sparkSchema)
    val analyzed = filters.foldLeft(empty)(_ filter _).queryExecution.analyzed
    // constant-fold so foldable scalar calls (to_date('…'), 1+2, …) become
    // literals the pruning evaluator can compare against stats — the SQL
    // route gets this for free from the optimizer; the programmatic route
    // must fold here or silently read every file. RuntimeReplaceable calls
    // (to_date et al.) only fold after ReplaceExpressions swaps in their
    // runtime form, same order the real optimizer uses.
    val folded = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(
      org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(analyzed))
    folded.collect { case f: Filter => split(f.condition) }.flatten
  }

  /** Manifest pruning (partition space) + file pruning (column stats). */
  private def prunedEntries(table: IceTable, schema: IceSchema, snap: Snapshot,
                            exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                            afterSequence: Option[Long]): Seq[ManifestEntry] = {
    // ---- manifest-level pruning against FieldSummary bounds ----
    // each manifest's FieldSummary order follows the spec it was WRITTEN
    // under (spec evolution leaves old manifests intact), so predicate
    // rewrite + summary decoding resolve per manifest spec id; a manifest
    // under an unknown spec is kept (pruning may only remove IO)
    case class SpecCtx(partType: Seq[graft.spec.NestedField],
                       partTypeByName: Map[String, IceType],
                       partExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    val ctxBySpec = scala.collection.mutable.Map.empty[Int, Option[SpecCtx]]
    // Try: an OLD spec may reference a column since dropped from the
    // current schema — its manifests are then simply not pruned
    def ctxOf(specId: Int): Option[SpecCtx] = ctxBySpec.getOrElseUpdate(specId, {
      table.metadata.partitionSpecs.get(specId).flatMap { spec => scala.util.Try {
        val partType = spec.partitionType(schema).fields
        val partBySource: Map[String, (Transform, String, IceType)] =
          spec.fields.flatMap { pf =>
            schema.fieldById(pf.sourceId).map(src => src.name -> (pf.transform, pf.name, src.fieldType))
          }.toMap
        SpecCtx(partType, partType.map(f => f.name -> f.fieldType).toMap,
          exprs.map(e => Pruning.transformPredicate(e, partBySource)))
      }.toOption }
    })
    val manifestFilter: ManifestListEntry => Boolean = ml => {
      if (ml.partitions.isEmpty || exprs.isEmpty) true
      else ctxOf(ml.partitionSpecId) match {
        case None => true
        case Some(ctx) =>
          val statsByName: Map[String, Pruning.ColStats] =
            ctx.partType.zipWithIndex.flatMap { case (f, i) =>
              ml.partitions.lift(i).map { s =>
                f.name -> Pruning.ColStats(
                  s.lowerBound.map(graft.core.ValueCodec.fromBytes(f.fieldType, _)),
                  s.upperBound.map(graft.core.ValueCodec.fromBytes(f.fieldType, _)),
                  if (s.containsNull) None else Some(0L), None)
              }
            }.toMap
          Pruning.mayMatch(ctx.partExprs, statsByName.get, ctx.partTypeByName.get)
      }
    }

    val all = table.entries(snap, afterSequence, manifestFilter)

    // ---- file-level pruning against per-column min/max/null counts ----
    if (exprs.isEmpty) all
    else {
      val typeByName: String => Option[IceType] = n => schema.fieldByName(n).map(_.fieldType)
      all.filter { e =>
        if (e.dataFile.content != ContentData) {
          // Scoped DELETE files prune on their exact partition TUPLE: if
          // the partition-space predicate excludes the tuple, every row
          // the file could mask is itself outside the scan's (re-applied,
          // inexact-pruning contract) predicate — planning the file would
          // widen the MoR masks for nothing. At 100 TB this is what keeps a
          // partition-pruned scan's delete side O(affected partitions),
          // not O(table's delete history). Global deletes (no real
          // tuple), foreign-name tuples, and anything the evaluator can't
          // type are kept conservatively — pruning may only remove IO.
          val f = e.dataFile
          if (f.partition.isEmpty || f.partition.forall(_._2 == null)) true
          else ctxOf(table.metadata.defaultSpecId) match {
            case Some(ctx) if f.partition.map(_._1).forall(ctx.partTypeByName.contains) =>
              val statsFor: String => Option[Pruning.ColStats] = name =>
                f.partition.collectFirst {
                  case (n, v) if n == name && v != null =>
                    Pruning.ColStats(Some(v), Some(v), Some(0L), None)
                }
              scala.util.Try(
                Pruning.mayMatch(ctx.partExprs, statsFor, ctx.partTypeByName.get))
                .getOrElse(true)
            case _ => true
          }
        } else {
          val f = e.dataFile
          val statsFor: String => Option[Pruning.ColStats] = name =>
            schema.fieldByName(name).map { fld =>
              Pruning.ColStats(
                f.lowerBounds.get(fld.id).map(graft.core.ValueCodec.fromBytes(fld.fieldType, _)),
                f.upperBounds.get(fld.id).map(graft.core.ValueCodec.fromBytes(fld.fieldType, _)),
                f.nullValueCounts.get(fld.id),
                f.valueCounts.get(fld.id))
            }
          Pruning.mayMatch(exprs, statsFor, typeByName)
        }
      }
    }
  }

  /** The delete-side size gate, shared by the MoR read masks and the
    * eq→pos conversion in [[graft.table.Maintenance]]. The reference always
    * CollectLeft-broadcasts the delete side (table.rs:484-692); under the
    * gate the read masks through the executor-side delete index instead,
    * and at 100 TB a large delete generation belongs in a shuffled join.
    * Compares the IN-MEMORY estimate: manifest `file_size_in_bytes`
    * (compressed) × 4 — zstd delete files deserialize to several times
    * their footprint, so a file just under the raw threshold can't still
    * blow the executors up. `spark.graft.delete.broadcast-threshold`
    * (bytes, default 64 MiB; 0 forces the shuffled join) must be a whole
    * number ≥ 0, else the gate fails naming the key and the value. */
  private[graft] def deleteFitsBroadcast(spark: SparkSession, manifestBytes: Long): Boolean = {
    val broadcastThreshold: Long =
      spark.conf.getOption("spark.graft.delete.broadcast-threshold").fold(64L << 20) { raw =>
        raw.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
          s"spark.graft.delete.broadcast-threshold must be a whole number of bytes >= 0, got '$raw'"))
      }
    manifestBytes * 4L <= broadcastThreshold
  }

  /** Assembles the (possibly merge-on-read) DataFrame: ONE read of all data
    * files, then the delete masks. The reference compiles equality deletes
    * into a sequence-ordered chain of broadcast anti-joins (J1,
    * table.rs:484-692); here the sequence rule rides each row instead. The
    * read carries `_metadata.sequence_number`, the partition tag,
    * `file_path` and `row_index` only when a delete kind needs them, so the
    * plan does not grow with the number of delete commits.
    *
    * Deletes that fit the gate ([[deleteFitsBroadcast]]) mask through one
    * executor-side index, as Iceberg Java's `DeleteFilter` does: the plan
    * carries only a descriptor of the delete files, and no delete scan,
    * exchange or join. Equality deletes become one
    * [[graft.spark.expressions.EqDeleted]] filter (key, plus the tag when
    * partition-scoped, to the max delete sequence number, which must exceed
    * the row's); parquet position deletes and deletion vectors become one
    * [[graft.spark.expressions.DvDeleted]] filter. Executors decode each
    * delete file once per JVM, on first probe.
    *
    * Past the gate, each (equality ids, scoped) group is one anti-join on
    * the null-safe keys, the tag when scoped, and `data_seq < delete_seq`;
    * parquet position deletes anti-join on (file_path, pos), and deletion
    * vectors decode distributed into the same anti-join shape.
    */
  private def buildDataFrame(spark: SparkSession, table: IceTable, schema: IceSchema,
                             sparkSchema: org.apache.spark.sql.types.StructType,
                             data: Seq[ManifestEntry], allDeletes: Seq[ManifestEntry],
                             rowLineage: Boolean = false): DataFrame = {
    import spark.implicits._
    import graft.spark.expressions.{DeleteRef, DvDeleted, EqDeleted, EqGroup}
    import org.apache.spark.sql.GraftShim
    // positional deletes reference explicit (file path, row position) pairs;
    // since paths are unique, one global application is exact — a path
    // added after the delete can never appear in it. Two physical carriers
    // share that contract: parquet delete-row files and V3 deletion vectors.
    val (posAll, eqAll) = allDeletes.partition(_.dataFile.content == ContentPositionDeletes)
    val (dvDeletes, posDeletes) = posAll.partition(_.dataFile.fileFormat == FormatPuffin)
    // row lineage derives ids from (file, position), so a lineage scan needs
    // the same metadata columns the positional masks do
    val withPos = posAll.nonEmpty || rowLineage
    val PathCol = "__graft_path"
    val PosCol = "__graft_pos"
    // the data sequence number and partition tag the equality masks key on
    val SeqCol = "__graft_seq"
    val TagCol = "__graft_pk"

    // one group per (equality ids present in the read schema, scoped?)
    val isScoped = scopedDelete(data)
    val eqGroups: Seq[((Seq[Int], Boolean), Seq[ManifestEntry])] = eqAll
      .groupBy(e => (e.dataFile.equalityIds.filter(id => schema.fieldById(id).isDefined), isScoped(e)))
      .toSeq.sortBy { case ((ids, scoped), _) => (ids.mkString(","), scoped) }
    eqGroups.collectFirst { case ((Nil, _), es) => es.head }.foreach(e => throw new IllegalStateException(
      s"equality delete ${e.dataFile.filePath} has no key column in the read schema"))
    val withTag = eqGroups.exists(_._1._2)
    def fits(es: Seq[ManifestEntry]): Boolean =
      deleteFitsBroadcast(spark, es.map(_.dataFile.fileSizeInBytes).sum)
    val (eqIndexed, eqJoined) = eqGroups.partition(g => fits(g._2))
    val posIndexed = posDeletes.nonEmpty && fits(posDeletes)
    val dvIndexed = dvDeletes.nonEmpty && deleteFitsBroadcast(spark,
      dvDeletes.map(e => e.dataFile.contentSizeInBytes.getOrElse(e.dataFile.fileSizeInBytes)).sum)

    // Iceberg V3 initial-defaults: a file written BEFORE a defaulted column
    // existed reads that column as the default, not null. Per-file decision
    // from manifest stats (a written column always carries value_counts /
    // column_sizes entries): files missing the field id group together and
    // get a typed literal fill — plan width grows with DISTINCT evolution
    // states (bounded by schema history), never with file count. A file
    // with no stats at all (foreign import) conservatively reads as-is.
    val defaultedFields = schema.fields.filter(_.initialDefault.isDefined)
    def missingDefaulted(e: ManifestEntry): Seq[Int] = {
      val d = e.dataFile
      if (defaultedFields.isEmpty || (d.valueCounts.isEmpty && d.columnSizes.isEmpty)) Nil
      else defaultedFields.map(_.id).filterNot(id =>
        d.valueCounts.contains(id) || d.columnSizes.contains(id))
    }

    // V3 row lineage: a rewrite that preserved ids MATERIALIZED the lineage
    // columns (reserved field ids in the file's stats); everything else
    // derives them virtually as first_row_id + row position
    def hasMatLineage(e: ManifestEntry): Boolean =
      e.dataFile.valueCounts.contains(RowIdFieldId) ||
        e.dataFile.columnSizes.contains(RowIdFieldId)
    def lineageStructFields: Seq[org.apache.spark.sql.types.StructField] = {
      import org.apache.spark.sql.types._
      def md(id: Int) = new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
      Seq(StructField("_row_id", LongType, nullable = true, md(RowIdFieldId)),
        StructField("_last_updated_sequence_number", LongType, nullable = true,
          md(LastUpdatedSeqFieldId)))
    }
    def readData(entries: Seq[ManifestEntry]): DataFrame =
      if (entries.isEmpty) {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        var fields = sparkSchema.fields
        if (withPos) fields = fields ++ Seq(StructField(PathCol, StringType), StructField(PosCol, LongType))
        if (eqAll.nonEmpty) fields = fields :+ StructField(SeqCol, LongType)
        if (withTag) fields = fields :+ StructField(TagCol, StringType)
        if (rowLineage) fields = fields ++ lineageStructFields
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(fields))
      } else if (defaultedFields.nonEmpty || rowLineage) {
        entries.groupBy(e => (missingDefaulted(e), rowLineage && hasMatLineage(e)))
          .toSeq.sortBy { case ((miss, mat), _) => (miss.mkString(","), mat) }
          .map { case ((miss, mat), es) =>
            miss.foldLeft(readFileGroup(es, materializedLineage = mat)) { (df, id) =>
              val f = schema.fieldById(id).get
              df.withColumn(f.name,
                graft.spec.DefaultValues.toColumn(f.fieldType, f.initialDefault.get))
            }
          }.reduce(_ unionByName _)
      } else readFileGroup(entries)

    /** One read of a data-file group, with the `_metadata` columns the
      * masks and row lineage key on. Lineage: virtual files derive
      * `_row_id` as first_row_id + row position and take the file's
      * sequence number; MATERIALIZED files keep their stored `_row_id` and
      * COALESCE a null `_last_updated_sequence_number` to the file's
      * sequence number — an UPDATE writes replacement rows with their
      * preserved ids but leaves the sequence column null, because the
      * commit's sequence number is only final at commit time (CAS retries
      * re-stamp manifests, never parquet). */
    def readFileGroup(entries: Seq[ManifestEntry],
                      materializedLineage: Boolean = false): DataFrame = {
      val readSchema =
        if (materializedLineage)
          org.apache.spark.sql.types.StructType(sparkSchema.fields ++ lineageStructFields)
        else sparkSchema
      val meta = scala.collection.immutable.ListMap.newBuilder[String, Column]
      if (withPos) meta ++= Seq(PathCol -> col("_metadata.file_path"),
        PosCol -> col("_metadata.row_index"))
      val seq = ManifestParquetFormat.sequenceNumber
      if (eqAll.nonEmpty) meta += SeqCol -> seq
      if (withTag) meta += TagCol -> ManifestParquetFormat.partitionTag
      if (rowLineage && materializedLineage)
        meta += "_last_updated_sequence_number" -> coalesce(col("_last_updated_sequence_number"), seq)
      else if (rowLineage) {
        entries.find(_.dataFile.firstRowId.isEmpty).foreach(e => throw new IllegalStateException(
          s"row-lineage scan: data file ${e.dataFile.filePath} has neither an " +
            "assigned first_row_id nor a materialized _row_id column (it predates " +
            "write.row-lineage.enabled) — compact() the table to backfill lineage"))
        meta ++= Seq("_row_id" -> (ManifestParquetFormat.firstRowId + col("_metadata.row_index")),
          "_last_updated_sequence_number" -> seq)
      }
      val df = IceScan.readFiles(spark, entries, readSchema, id => schema.fieldById(id).map(_.name))
      val extra = meta.result()
      if (extra.isEmpty) df else df.withColumns(extra)
    }

    def colsOf(ids: Seq[Int]): Seq[String] = ids.map(id => schema.fieldById(id).get.name)
    val hconf = spark.sparkContext.hadoopConfiguration
    def ref(e: ManifestEntry, kind: Int, scoped: Boolean = false): DeleteRef = {
      val d = e.dataFile
      if (kind == DeleteRef.DeletionVector)
        DeleteRef(d.filePath, d.fileSizeInBytes, kind, 0L, null, Nil,
          d.contentOffset.getOrElse(sys.error(s"DV entry ${d.filePath} lacks content_offset")),
          d.contentSizeInBytes.getOrElse(sys.error(s"DV entry ${d.filePath} lacks content_size")),
          d.referencedDataFile.getOrElse(
            sys.error(s"puffin delete entry ${d.filePath} lacks referenced_data_file")))
      else
        DeleteRef(qualifiedPath(hconf, d.filePath), d.fileSizeInBytes, kind,
          e.sequenceNumber.getOrElse(0L), if (scoped) pkTag(d.partition) else null,
          d.equalityIds, 0L, 0L, null)
    }

    var df = readData(data)
    val keyIds = eqIndexed.flatMap(_._1._1).distinct.sorted
    lazy val loader = deleteLoader(spark, schema, sparkSchema, keyIds,
      parquet = eqIndexed.nonEmpty || posIndexed, vectors = dvIndexed)

    if (eqIndexed.nonEmpty) {
      val groups = eqIndexed.map { case ((ids, scoped), es) =>
        EqGroup(ids, scoped, es.map(ref(_, DeleteRef.EqualityFile, scoped)))
      }
      val children = (col(SeqCol) +: (if (withTag) col(TagCol) else lit(null).cast(StringType)) +:
        groups.flatMap(g => colsOf(g.ids).map(col))).map(GraftShim.expression)
      df = df.filter(!GraftShim.column(EqDeleted(children, groups, loader)))
    }
    for (((ids, scoped), es) <- eqJoined) {
      val eqCols = colsOf(ids)
      val del = IceScan.readFiles(spark, es, org.apache.spark.sql.types.StructType(
          sparkSchema.fields.filter(f => eqCols.contains(f.name))))
        .select(eqCols.map(col) ++ (if (scoped) Seq(ManifestParquetFormat.partitionTag.as(TagCol)) else Nil) :+
          ManifestParquetFormat.sequenceNumber.as("__graft_dseq"): _*)
      // NULL-SAFE key equality (<=>): the Iceberg spec's equality deletes
      // match null to null — a USING join would silently never mask a
      // null-keyed row (it then survives forever next to every
      // replacement generation)
      val cond = eqCols.map(c => df(c) <=> del(c)) ++
        (if (scoped) Seq(df(TagCol) === del(TagCol)) else Nil) :+
        (df(SeqCol) < del("__graft_dseq"))
      df = df.join(del, cond.reduce(_ && _), "left_anti")
    }

    val indexedPositions = (if (posIndexed) posDeletes.map(ref(_, DeleteRef.PositionFile)) else Nil) ++
      (if (dvIndexed) dvDeletes.map(ref(_, DeleteRef.DeletionVector)) else Nil)
    if (indexedPositions.nonEmpty)
      df = df.filter(!GraftShim.column(DvDeleted(GraftShim.expression(col(PathCol)),
        GraftShim.expression(col(PosCol)), indexedPositions, loader)))
    if (posDeletes.nonEmpty && !posIndexed) {
      val del = IceScan.readFiles(spark, posDeletes, IceWrite.PosDeleteSchema.toSpark)
        .select(col("file_path").as(PathCol), col("pos").as(PosCol))
      df = df.join(del, Seq(PathCol, PosCol), "left_anti")
    }
    if (dvDeletes.nonEmpty && !dvIndexed) {
      // past the gate the vectors decode DISTRIBUTED (one task per blob,
      // positioned range reads) into (path, pos) rows
      val descs = dvDeletes.map { e =>
        val d = e.dataFile
        (d.filePath, d.referencedDataFile.get, d.contentOffset.get, d.contentSizeInBytes.get)
      }
      val sconf = GraftShim.serializableHadoopConf(spark)
      val pairs = spark.createDataset(descs)
        .repartition(math.min(descs.size, spark.sparkContext.defaultParallelism))
        .flatMap { case (pf, ref, off, len) =>
          val bm = graft.table.Puffin.dvFromBlob(graft.table.Puffin.readBlobRange(sconf(), pf, off, len))
          val out = Array.newBuilder[(String, Long)]
          bm.foreach(pos => out += ((ref, pos)))
          out.result()
        }
        .toDF(PathCol, PosCol)
      df = df.join(pairs, Seq(PathCol, PosCol), "left_anti")
    }
    df.drop(PathCol, PosCol, SeqCol, TagCol)
  }

  /** The executor-side reader of one scan's indexed delete files. Parquet
    * delete files read through ONE Spark parquet reader over one requested
    * schema — the positional columns, renamed so no data column can
    * collide, then the `keyIds` columns at the scan's own types. The Hadoop
    * conf ships once in that reader's broadcast, and once more with the
    * loader when deletion vectors need it for their blob reads. Building
    * the loader opens no file. */
  private def deleteLoader(spark: SparkSession, schema: IceSchema,
                           sparkSchema: org.apache.spark.sql.types.StructType,
                           keyIds: Seq[Int], parquet: Boolean,
                           vectors: Boolean): graft.spark.expressions.DeleteLoader = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.types.StructType
    // the conf's keys without their per-key source records, which
    // serializing a conf would otherwise gzip ([[IceWrite.writeDataFiles]])
    val conf = new Configuration(false)
    conf.addResource(spark.sessionState.newHadoopConf())
    val requested = org.apache.spark.sql.GraftShim.nullable(StructType(
      IceWrite.PosDeleteSchema.toSpark.fields.map(f => f.copy(name = "__graft_del_" + f.name)) ++
        keyIds.map(id => sparkSchema(schema.fieldById(id).get.name))))
    val read =
      if (!parquet) null
      else new ParquetFileFormat().buildReaderWithPartitionValues(spark, requested,
        new StructType(), requested, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    new graft.spark.expressions.DeleteLoader(read, keyIds.zipWithIndex.map { case (id, i) => id -> (i + 2) }.toMap,
      if (vectors) org.apache.spark.sql.GraftShim.serializableConf(conf) else null)
  }
}

package graft.table

import java.util.UUID

import graft.catalog._
import graft.core.ValueCodec
import graft.spec.{IceSchema, PartitionField, PartitionSpec, Snapshot}
import graft.table.ManifestModel._

/** ACID table transaction (reference: iceberg-rust/src/table/transaction/
  * mod.rs:56-384, operation.rs:96-547, append.rs, util/mod.rs).
  *
  * All work is driver-side metadata manipulation: select/merge/split
  * manifests, write Avro, emit a CommitTable with optimistic-concurrency
  * requirements. Executors are never involved — at 100 TB this stays
  * O(manifests), and the manifest tree is kept balanced by the reference's
  * sqrt law so scan planning stays fast as file count grows.
  *
  * A transaction carries at most ONE content operation — an append (data
  * and/or delete files), a replace, a data-manifest rewrite or a
  * delete-manifest rewrite — beside any metadata changes (schema, spec,
  * sort order, properties, tags). A second content operation fails at its
  * builder, naming both. Each operation computes only what is its own: its
  * manifest list, operation name, summary keys and assigned row ids (and,
  * for replace, the snapshots it supersedes). One snapshot step in
  * `commitOnce` does the rest for every kind: it mints the snapshot id and
  * sequence number, writes the manifest list, totals the new list's data
  * manifests, builds the snapshot and emits the ref requirement with the
  * snapshot and ref updates.
  */
class Transaction(table: IceTable, branch: Option[String]) {
  import Transaction._

  private var content: Option[Content] = None
  private var propertyUpdates: Map[String, String] = Map.empty
  private var propsRetrySafe = true // vacuous while no property updates
  private var propertyRemovals: Seq[String] = Nil
  private var newSchema: Option[IceSchema] = None
  private var newSpecFields: Option[Seq[PartitionField]] = None
  private var newSortOrder: Option[graft.spec.SortOrder] = None
  private var resetSortOrder: Boolean = false
  // tag name -> (snapshot id, max-ref-age-ms, min-snapshots-to-keep)
  private var refUpdates: Map[String, (Long, Option[Long], Option[Int])] = Map.empty
  private var extraSummary: Map[String, String] = Map.empty

  /** Extra key-values merged into the new snapshot's summary — provenance
    * the commit should carry (e.g. cherry-pick source ids, streaming batch
    * ids for exactly-once; the reference's additional-summary hook carries
    * MV refresh state the same way). Applied on EVERY snapshot-producing
    * op — append, replace, manifest rewrites — a streaming replace sink's
    * batch ledger rides replace commits (streamSketch). */
  def summaryExtra(kv: (String, String)*): Transaction = {
    extraSummary ++= kv; this
  }

  /** The one exclusivity rule: appends of data and delete files accumulate
    * into one append; any other pair of content operations fails, naming
    * both. Appending nothing is not an operation. */
  private def setContent(op: String, next: Content): Transaction = {
    content = (content, next) match {
      case (cur, Append(d, x)) if d.isEmpty && x.isEmpty => cur
      case (None, n) => Some(n)
      case (Some(Append(d0, x0)), Append(d, x)) => Some(Append(d0 ++ d, x0 ++ x))
      case (Some(cur), _) => throw new IllegalArgumentException(
        s"$op cannot combine with ${cur.name} in one transaction: " +
          "a transaction carries one content operation")
    }
    this
  }

  def appendData(files: Seq[DataFile]): Transaction = setContent("appendData", Append(files, Nil))
  def appendDeletes(files: Seq[DataFile]): Transaction = {
    // row-level (merge-on-read) deletes are a format V2 feature; a V1 table
    // has no sequence numbers to order them against (Iceberg spec, and
    // table_metadata.rs V1 serde omits sequence numbers entirely)
    if (table.metadata.formatVersion < 2)
      throw new IllegalStateException(
        "row-level deletes require format-version 2 (V1 tables are copy-on-write only)")
    setContent("appendDeletes", Append(Nil, files))
  }
  /** Replace all table content with `files` (compaction / full rewrite, T3). */
  def replace(files: Seq[DataFile]): Transaction = setContent("replace", Replace(files))
  /** Rewrite the DATA manifest tree only: a new snapshot referencing the
    * SAME data files through freshly balanced manifests — entries keep their
    * sequence/snapshot numbers (MoR delete ordering depends on them), delete
    * manifests carry over untouched, and history is preserved (unlike
    * `replace`, no snapshots are removed). Zero data IO. */
  def rewriteManifests(entries: Seq[ManifestEntry]): Transaction =
    rewriteData("rewriteManifests", entries, Nil)
  /** Partial data-file rewrite (binpack compaction): a new snapshot where
    * `keep` entries survive with their ORIGINAL sequence numbers (MoR
    * ordering preserved) and `added` files replace the rewritten originals
    * at the new snapshot's sequence number. Unlike `replace`, history is
    * untouched — superseded files stay reachable through older snapshots
    * until expiration; unlike `rewriteManifests`, the data file set
    * changes. */
  def rewriteFiles(keep: Seq[ManifestEntry], added: Seq[DataFile]): Transaction =
    rewriteData("rewriteFiles", keep, added)
  private def rewriteData(op: String, keep: Seq[ManifestEntry], added: Seq[DataFile]): Transaction = {
    require(keep.forall(e => e.sequenceNumber.isDefined && e.dataFile.content == ContentData),
      s"$op takes inherited DATA entries (explicit sequence numbers)")
    setContent(op, RewriteData(keep, added))
  }
  /** Rewrite the DELETE manifest tree only (positional-delete compaction):
    * a new snapshot where `keep` delete entries survive with their ORIGINAL
    * sequence numbers (equality deletes mask strictly-OLDER data files, so
    * renumbering them would silently widen their scope) and `added`
    * consolidated files enter at the new snapshot's sequence number — safe
    * for POSITIONAL deletes only, whose masking set is an explicit
    * (path, pos) list independent of sequencing. Data manifests carry over
    * untouched. Kept entries are RE-ENCODED under the table's CURRENT
    * default spec (Manifest.writeManifest puts partition tuple values by
    * field NAME): global delete files round-trip safely (empty tuple), and
    * so do partition-SCOPED entries whose tuple field names all exist in
    * the default spec's partition type — but a scoped entry carrying a
    * foreign-named tuple (written before a later setSpec evolution) cannot
    * be re-encoded without silently nulling its scope, so it is rejected
    * loudly here instead. */
  def rewriteDeletes(keep: Seq[ManifestEntry], added: Seq[DataFile]): Transaction = {
    require(keep.forall(e => e.sequenceNumber.isDefined && e.dataFile.content != ContentData),
      "rewriteDeletes takes inherited DELETE entries (explicit sequence numbers)")
    val currentPartNames = table.metadata.partitionSpecs
      .get(table.metadata.defaultSpecId)
      .map(_.partitionType(table.metadata.currentSchema).fields.map(_.name).toSet)
      .getOrElse(Set.empty[String])
    // a tuple field NAME only identifies a meaning when every spec in
    // history that defines it agrees on (source column, transform): a
    // re-used name (e.g. bucket width widened under the same field name)
    // would re-encode a scoped value under a DIFFERENT partitioning and
    // silently mask the wrong partition — reject those too (entries do
    // not carry their origin spec id, so attribution is impossible)
    val defCount: Map[String, Int] = table.metadata.partitionSpecs.values
      .flatMap(_.fields.map(pf => pf.name -> ((pf.sourceId, pf.transform))))
      .toSeq.distinct.groupBy(_._1).map { case (n, ds) => n -> ds.size }
    keep.foreach { e =>
      val foreign = e.dataFile.partition.map(_._1).filterNot(currentPartNames.contains)
      require(foreign.isEmpty,
        s"rewriteDeletes cannot re-encode kept entry ${e.dataFile.filePath}: partition " +
          s"tuple fields ${foreign.mkString(", ")} do not exist in the current default " +
          "spec's partition type (spec evolved since the delete was written) — compact " +
          "or convert the foreign-spec deletes first")
      val ambiguous = e.dataFile.partition.collect {
        case (n, v) if v != null && defCount.getOrElse(n, 1) > 1 => n
      }
      require(ambiguous.isEmpty,
        s"rewriteDeletes cannot re-encode kept entry ${e.dataFile.filePath}: partition " +
          s"tuple fields ${ambiguous.mkString(", ")} are defined with different " +
          "(source, transform) pairs across the table's spec history — the scoped " +
          "value's meaning cannot be attributed; compact or convert first")
    }
    require(added.forall(_.content == ContentPositionDeletes),
      "only positional delete files may enter at a fresh sequence number")
    setContent("rewriteDeletes", RewriteDeletes(keep, added))
  }
  /** Property updates carried by this commit. `ownedExclusively` declares
    * that the CALLER is the only writer of these keys (e.g. a streaming
    * sink's per-checkpoint ledger namespace — Structured Streaming holds
    * one active query per checkpoint), making re-application after a CAS
    * retry last-writer-wins-safe; the default keeps read-modify-write
    * semantics, surfacing any conflict to the caller. */
  def updateProperties(p: Map[String, String],
                       ownedExclusively: Boolean = false): Transaction = {
    propertyUpdates ++= p
    if (p.nonEmpty && !ownedExclusively) propsRetrySafe = false
    this
  }
  def removeProperties(keys: Seq[String]): Transaction = { propertyRemovals ++= keys; this }
  /** Schema evolution: install a new current schema (add-column etc.). */
  def setSchema(s: IceSchema): Transaction = { newSchema = Some(s); this }
  /** Partition spec evolution: install a new DEFAULT spec. Existing data
    * keeps its old layout (manifests remember their spec id; the scan prunes
    * each against its own spec); only new writes use the new spec. Compact
    * to migrate old files. */
  def setSpec(fields: Seq[PartitionField]): Transaction = { newSpecFields = Some(fields); this }
  /** Installs a write sort order (clustering): subsequent data writes
    * range-partition + locally sort on it, tightening per-file column
    * bounds so statistics pruning skips more files. Passing the unsorted
    * order resets the default to the built-in order 0 instead of minting a
    * duplicate empty order per toggle. */
  def setSortOrder(o: graft.spec.SortOrder): Transaction = {
    if (o.fields.isEmpty) resetSortOrder = true else newSortOrder = Some(o)
    this
  }
  def setRef(name: String, snapshotId: Long, maxRefAgeMs: Option[Long] = None,
             minSnapshotsToKeep: Option[Int] = None): Transaction = {
    refUpdates += name -> ((snapshotId, maxRefAgeMs, minSnapshotsToKeep)); this
  }

  /** Commits with bounded optimistic retry for PURE DATA APPENDS: two
    * writers appending concurrently do not semantically conflict — the
    * loser's CAS failure just means its manifest merge was built on a stale
    * base, so it refreshes and re-merges (the written data files themselves
    * stay valid; only driver-side manifest work repeats). Everything else —
    * replace (a concurrent append would be silently clobbered), row-level
    * deletes (re-basing raises their sequence number, widening what they
    * mask), schema/property/ref changes (read-modify-write semantics) —
    * surfaces the conflict to the caller, matching the reference's
    * no-auto-retry commit (commit.rs:417-490).
    *
    * One adverse commit can cost a retrier TWO failures (the winner claims
    * the version lock before its metadata is visible: first a version-claim
    * race, then a ref-moved failure once the metadata lands), so the budget
    * is 2× a small contention fan-in plus slack, with linear backoff to let
    * in-flight metadata writes surface before the re-read.
    *
    * A replace then deletes the files only its superseded snapshots
    * reached (T3 reference parity: transaction/mod.rs:339-353 →
    * table/mod.rs:359-411), strictly after the commit lands and through
    * [[Cleanup.deleteUnreachable]], which never throws.
    */
  def commit(): IceTable = {
    // retryable shapes: a pure data append (two concurrent appenders don't
    // semantically conflict — the loser re-merges manifests on a fresh
    // base), optionally carrying caller-OWNED property updates (a streaming
    // sink's ledger keys: re-application is last-writer-wins on keys nobody
    // else writes), and the degenerate owned-properties-ONLY commit (an
    // empty micro-batch's ledger stamp) — everything else surfaces the
    // conflict (read-modify-write semantics)
    val pureDataAppend = (content match {
      case Some(Append(_, deletes)) => deletes.isEmpty
      case Some(_) => false
      case None => propertyUpdates.nonEmpty
    }) && newSchema.isEmpty && newSpecFields.isEmpty && newSortOrder.isEmpty &&
      !resetSortOrder && propsRetrySafe && propertyRemovals.isEmpty && refUpdates.isEmpty
    val maxAttempts = if (pureDataAppend) 10 else 1
    // captured BEFORE the commit mutates table.metadata: the pre-commit
    // metadata is what knows which snapshots a replace supersedes
    val oldMeta = content.collect { case _: Replace => table.metadata }
    var attempt = 1
    while (true) {
      try {
        val committed = commitOnce()
        oldMeta.foreach { old =>
          val kept = committed.metadata.snapshots
          // the active session's Hadoop conf carries filesystem credentials /
          // endpoints (s3a, custom defaultFS) a bare Configuration would lack
          val conf = org.apache.spark.sql.SparkSession.getActiveSession
            .map(_.sparkContext.hadoopConfiguration)
            .getOrElse(new org.apache.hadoop.conf.Configuration())
          Cleanup.deleteUnreachable(conf, table,
            removed = old.snapshots.values.filterNot(s => kept.contains(s.snapshotId)),
            kept = kept.values, context = s"replace cleanup of ${table.ident}")
        }
        return committed
      }
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep(attempt * 2L)
          attempt += 1
          table.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Iceberg V3 row lineage (`write.row-lineage.enabled=true`): assigns
    * `first_row_id` sequentially from the table's next-row-id to DATA files
    * that carry neither an assignment nor a MATERIALIZED `_row_id` column
    * (detected via the reserved field id in the file's stats — rewrites
    * that preserve ids write the column and skip assignment). Returns the
    * stamped files and the number of row ids consumed; the snapshot carries
    * `first-row-id` plus an `assigned-row-ids` summary so every catalog
    * backend replays the same next-row-id bump. */
  private def assignRowIds(m: graft.spec.TableMetadata,
                           files: Seq[DataFile]): (Seq[DataFile], Long) =
    if (!m.properties.get("write.row-lineage.enabled").contains("true")) (files, 0L)
    else {
      var next = m.nextRowId
      val out = files.map { f =>
        if (f.content != ContentData || f.firstRowId.isDefined ||
            f.valueCounts.contains(RowIdFieldId)) f
        else {
          val stamped = f.copy(firstRowId = Some(next))
          next += f.recordCount
          stamped
        }
      }
      (out, next - m.nextRowId)
    }

  /** What content operation `c` alone decides about its snapshot; the
    * shared snapshot step in [[commitOnce]] does the rest. */
  private def produce(c: Content, m: graft.spec.TableMetadata, parent: Option[Snapshot],
                      branchName: String, schema: IceSchema,
                      snapshotId: Long, seq: Long): Produced = {
    // new files enter at THIS snapshot's sequence number; kept entries keep
    // their inherited numbers (both written explicitly)
    def added(f: DataFile) = ManifestEntry(StatusAdded, Some(snapshotId), Some(seq), Some(seq), f)
    def parentManifests = parent.map(p => table.manifests(p)).getOrElse(Nil)
    c match {
      case Append(data0, deletes) =>
        // carry over existing manifests; merge new data files into the best one
        val (dataManifests, deleteManifests) = parentManifests.partition(_.content == 0)
        val (data, assignedRows) = assignRowIds(m, data0)
        val mergedData =
          if (data.isEmpty) dataManifests
          else mergeAppend(table, schema, dataManifests, data, snapshotId, seq)
        val newDeleteManifests =
          if (deletes.isEmpty) Nil
          else Seq(writeManifest(table, schema, deletes.map(added), snapshotId, seq, content = 1))
        // operation by file mix (operation.rs:108-115)
        val op = if (deletes.isEmpty) "append" else if (data.isEmpty) "delete" else "overwrite"
        Produced(mergedData ++ deleteManifests ++ newDeleteManifests, op,
          Map("added-data-files" -> data.size.toString,
            "added-delete-files" -> deletes.size.toString,
            "added-records" -> data.map(_.recordCount).sum.toString), assignedRows)
      case Replace(files0) =>
        val (files, assignedRows) = assignRowIds(m, files0)
        // a bare replace supersedes the table's history (reference semantics:
        // transaction/mod.rs:339-353 captures old metadata and deletes its
        // files post-commit) — but only the history no OTHER ref still
        // reaches: a branch or tag pointing into the old lineage keeps its
        // snapshots (and, downstream, their files) alive. Without this guard
        // RemoveSnapshots would also silently drop those refs.
        val refProtected: Set[Long] = m.refs.collect {
          case (name, r) if name != branchName => m.ancestorsOf(r.snapshotId)
        }.flatten.toSet
        Produced(writeSplitManifests(table, schema, files.map(added), snapshotId, seq, files.size),
          "replace",
          Map("added-data-files" -> files.size.toString,
            "added-records" -> files.map(_.recordCount).sum.toString), assignedRows,
          Seq(TableUpdate.RemoveSnapshots(m.snapshots.keys.filterNot(refProtected).toSeq)))
      case RewriteData(keep, added0) =>
        val (addedFiles, assignedRows) = assignRowIds(m, added0)
        val dataManifests = writeSplitManifests(table, schema,
          keep.map(_.copy(status = StatusExisting)) ++ addedFiles.map(added),
          snapshotId, seq, keep.size + addedFiles.size)
        // carry over untouched: delete manifests AND data manifests under a
        // FOREIGN spec — their partition records cannot be re-encoded under
        // the current spec's Avro schema (spec evolution; compaction migrates)
        val carried = parentManifests.filter(ml =>
          ml.content != 0 || ml.partitionSpecId != m.defaultSpecId)
        Produced(dataManifests ++ carried, "replace",
          Map("rewritten-data-manifests" -> dataManifests.size.toString,
            "added-data-files" -> addedFiles.size.toString,
            "added-records" -> addedFiles.map(_.recordCount).sum.toString), assignedRows)
      case RewriteDeletes(keep, addedFiles) =>
        val allDel = keep.map(_.copy(status = StatusExisting)) ++ addedFiles.map(added)
        val deleteManifests =
          if (allDel.isEmpty) Nil
          else Seq(writeManifest(table, schema, allDel, snapshotId, seq, content = 1))
        // data manifests carry over untouched (any spec) — this op never
        // changes what data exists, only how its delete masks are stored
        Produced(parentManifests.filter(_.content == 0) ++ deleteManifests, "delete",
          Map("rewritten-delete-files" -> addedFiles.size.toString))
    }
  }

  private def commitOnce(): IceTable = {
    val m = table.metadata
    val branchName = branch.getOrElse(m.MainBranch)
    // parent falls back to main when the branch is new (branch forks from
    // main, T7) — but the CAS requirement must assert the ref's actual
    // stored state, which is None for a not-yet-created branch
    val parent = m.currentSnapshot(branch)
    val expectedRef: Option[Long] =
      if (branchName == m.MainBranch) m.currentSnapshotId
      else m.refs.get(branchName).map(_.snapshotId)
    var updates = Vector.empty[TableUpdate]
    var requirements = Vector.empty[TableRequirement]

    newSchema.foreach { s =>
      val id = if (m.schemas.contains(s.schemaId)) m.schemas.keys.max + 1 else s.schemaId
      val sch = s.copy(schemaId = id)
      updates :+= TableUpdate.AddSchema(sch, sch.maxFieldId)
      updates :+= TableUpdate.SetCurrentSchema(id)
    }
    newSpecFields.foreach { fields =>
      // field ids: reuse the id of an identical (source, transform) field
      // from ANY prior spec (Iceberg's evolution rule — the field means the
      // same thing), else continue from last-partition-id
      var nextFieldId = m.lastPartitionId
      val existing: Map[(Int, graft.core.Transform), Int] =
        m.partitionSpecs.values.flatMap(_.fields.map(f => (f.sourceId, f.transform) -> f.fieldId)).toMap
      val assigned = fields.map { f =>
        existing.get((f.sourceId, f.transform)) match {
          case Some(id) => f.copy(fieldId = id)
          case None => nextFieldId += 1; f.copy(fieldId = nextFieldId)
        }
      }
      val specId = m.partitionSpecs.keys.max + 1
      requirements :+= TableRequirement.AssertDefaultSpecId(m.defaultSpecId)
      updates :+= TableUpdate.AddPartitionSpec(PartitionSpec(specId, assigned))
      updates :+= TableUpdate.SetDefaultSpec(specId)
    }
    if (propertyUpdates.nonEmpty) updates :+= TableUpdate.SetProperties(propertyUpdates)
    if (propertyRemovals.nonEmpty) updates :+= TableUpdate.RemoveProperties(propertyRemovals)
    newSortOrder.foreach { o =>
      val id = if (m.sortOrders.contains(o.orderId)) m.sortOrders.keys.max + 1 else o.orderId
      updates :+= TableUpdate.AddSortOrder(o.copy(orderId = id))
      updates :+= TableUpdate.SetDefaultSortOrder(id)
    }
    if (resetSortOrder) updates :+= TableUpdate.SetDefaultSortOrder(0)
    refUpdates.foreach { case (name, (id, maxAge, minKeep)) =>
      updates :+= TableUpdate.SetSnapshotRef(name, id, "tag", maxAge, minKeep)
    }

    // the one snapshot step, shared by every content operation
    content.foreach { c =>
      val snapshotId = newSnapshotId()
      val seq = m.lastSequenceNumber + 1
      val p = produce(c, m, parent, branchName, newSchema.getOrElse(m.currentSchema),
        snapshotId, seq)
      val listPath = s"${m.location}/metadata/snap-$snapshotId-$seq-${UUID.randomUUID()}.avro"
      ManifestIO.writeManifestList(listPath, p.manifests)
      // running totals from the new list's DATA manifests (added + existing
      // counts are already aggregated per manifest — no file-level scan)
      val data = p.manifests.filter(_.content == 0)
      val totals = Map(
        "total-records" -> data.map(ml => ml.addedRowsCount + ml.existingRowsCount).sum.toString,
        "total-data-files" -> data.map(ml => ml.addedFilesCount + ml.existingFilesCount).sum.toString)
      val lineage =
        if (p.assignedRows > 0L) Map("assigned-row-ids" -> p.assignedRows.toString) else Map.empty
      val snap = Snapshot(snapshotId, parent.map(_.snapshotId), seq,
        System.currentTimeMillis(), listPath,
        Map("operation" -> p.operation) ++ p.summary ++ totals ++ lineage ++ extraSummary,
        Some(m.currentSchemaId),
        firstRowId = if (p.assignedRows > 0L) Some(m.nextRowId) else None)
      requirements :+= TableRequirement.AssertRefSnapshotId(branchName, expectedRef)
      updates ++= p.updates
      updates :+= TableUpdate.AddSnapshot(snap)
      updates :+= TableUpdate.SetSnapshotRef(branchName, snapshotId, "branch")
    }

    if (updates.isEmpty) return table
    val committed = table.catalog.updateTable(CommitTable(table.ident, requirements, updates))
    table.metadata = committed
    // replace-op physical file cleanup happens in commit(), strictly after
    // this method returns the landed metadata
    table
  }
}

object Transaction {
  /** MIN_DATAFILES_PER_MANIFEST (operation.rs:39). */
  val MinDatafilesPerManifest = 4

  def newSnapshotId(): Long = math.abs(UUID.randomUUID().getLeastSignificantBits)

  /** The one content operation a transaction carries; `name` is the
    * builder that set it, for the exclusivity message. */
  private sealed trait Content { def name: String }
  private final case class Append(data: Seq[DataFile], deletes: Seq[DataFile]) extends Content {
    def name: String =
      if (deletes.isEmpty) "appendData" else if (data.isEmpty) "appendDeletes"
      else "appendData + appendDeletes"
  }
  private final case class Replace(files: Seq[DataFile]) extends Content {
    def name: String = "replace"
  }
  private final case class RewriteData(keep: Seq[ManifestEntry], added: Seq[DataFile])
      extends Content {
    def name: String = if (added.isEmpty) "rewriteManifests" else "rewriteFiles"
  }
  private final case class RewriteDeletes(keep: Seq[ManifestEntry], added: Seq[DataFile])
      extends Content {
    def name: String = "rewriteDeletes"
  }

  /** What one content operation contributes to its snapshot: the new
    * manifest list, the operation name and its own summary keys, the row
    * ids it assigned, and updates that precede the snapshot's own. */
  private final case class Produced(manifests: Seq[ManifestListEntry], operation: String,
                                    summary: Map[String, String], assignedRows: Long = 0L,
                                    updates: Seq[TableUpdate] = Nil)

  /** limit = 4 + ceil(sqrt(total)) (operation.rs:645-666). */
  def manifestLimit(totalFiles: Int): Int =
    MinDatafilesPerManifest + math.ceil(math.sqrt(totalFiles.toDouble)).toInt

  /** Number of split pieces: 2^(ilog2(n/limit)+1) (compute_n_splits). */
  def nSplits(n: Int, limit: Int): Int = {
    if (n <= limit) 1
    else {
      val ratio = n / limit
      var p = 1
      while ((1 << p) <= ratio) p += 1
      1 << p
    }
  }

  private[table] def compareVals(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => 0
  }

  private def numeric(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  /** Bounding rectangle over partition tuples (util/mod.rs:14-141). */
  private[table] final case class Rect(min: Vector[Any], max: Vector[Any]) {
    def union(other: Rect): Rect = Rect(
      min.zip(other.min).map { case (a, b) => if (compareVals(a, b) <= 0) a else b },
      max.zip(other.max).map { case (a, b) => if (compareVals(a, b) >= 0) a else b })
    /** Total numeric extent — the priority used for manifest selection. */
    def extent: Double = min.zip(max).map { case (a, b) =>
      (numeric(a), numeric(b)) match {
        case (Some(x), Some(y)) => y - x
        case _ => 0.0
      }
    }.sum
  }

  private[table] def rectOf(files: Seq[DataFile]): Option[Rect] = {
    val tuples = files.map(_.partition.map(_._2).toVector).filter(_.nonEmpty)
    if (tuples.isEmpty) None
    else Some(tuples.map(t => Rect(t, t)).reduce(_ union _))
  }

  /** Appends new files into the manifest tree: pick the target manifest
    * (partitioned: smallest bounding-rectangle enlargement, append.rs:107-150;
    * unpartitioned: fewest rows, append.rs:153-191), merge, split if over the
    * sqrt-law limit (operation.rs:645-666 + geometric bisection
    * append.rs:14-98).
    */
  private[table] def mergeAppend(table: IceTable, schema: IceSchema,
                                 dataManifests: Seq[ManifestListEntry], newFiles: Seq[DataFile],
                                 snapshotId: Long, seq: Long): Seq[ManifestListEntry] = {
    val newEntries = newFiles.map(f =>
      ManifestEntry(StatusAdded, Some(snapshotId), Some(seq), Some(seq), f))
    // merge candidates: ONLY manifests written under the CURRENT default
    // spec — merging would re-encode a foreign spec's partition records
    // under this spec's Avro schema (spec evolution keeps old manifests
    // intact; compaction migrates them)
    val specId = table.metadata.defaultSpecId
    val mergeable = dataManifests.filter(_.partitionSpecId == specId)
    if (mergeable.isEmpty)
      return dataManifests ++ writeSplitManifests(table, schema, newEntries, snapshotId, seq, 0)

    val partitioned = table.metadata.defaultSpec.fields.nonEmpty
    val newRect = rectOf(newFiles)
    val target: ManifestListEntry =
      if (partitioned && newRect.isDefined) {
        // smallest extent of union(manifest bounds, new files bounds)
        mergeable.minBy { ml =>
          val entries = ManifestIO.readManifest(ml.manifestPath)
          rectOf(entries.map(_.dataFile)) match {
            case Some(r) => r.union(newRect.get).extent
            case None => Double.MaxValue
          }
        }
      } else mergeable.minBy(ml => ml.addedRowsCount + ml.existingRowsCount)

    val targetEntries = ManifestIO.readManifest(target.manifestPath).map { e =>
      e.copy(status = StatusExisting,
        sequenceNumber = e.sequenceNumber.orElse(Some(target.sequenceNumber)),
        snapshotId = e.snapshotId.orElse(Some(target.addedSnapshotId)))
    }
    val merged = targetEntries ++ newEntries
    val untouched = dataManifests.filterNot(_ eq target)
    val totalFiles = dataManifests.map(ml =>
      ml.addedFilesCount + ml.existingFilesCount).sum + newFiles.size
    untouched ++ writeSplitManifests(table, schema, merged, snapshotId, seq, totalFiles)
  }

  /** Splits `entries` into balanced manifests when over the limit, bisecting
    * the widest numeric partition dimension (append.rs:14-98).
    */
  private[table] def writeSplitManifests(table: IceTable, schema: IceSchema,
                                         entries: Seq[ManifestEntry], snapshotId: Long, seq: Long,
                                         totalTableFiles: Int): Seq[ManifestListEntry] = {
    val limit = manifestLimit(math.max(totalTableFiles, entries.size))
    val pieces = nSplits(entries.size, limit)
    val groups: Seq[Seq[ManifestEntry]] =
      if (pieces <= 1) Seq(entries) else bisect(entries, pieces)
    groups.filter(_.nonEmpty)
      .map(g => writeManifest(table, schema, g, snapshotId, seq, content = 0))
  }

  private def bisect(entries: Seq[ManifestEntry], pieces: Int): Seq[Seq[ManifestEntry]] = {
    if (pieces <= 1 || entries.size <= 1) return Seq(entries)
    val dims = entries.head.dataFile.partition.size
    // widest numeric dimension
    val widths = (0 until dims).map { i =>
      val vals = entries.flatMap(e => numeric(e.dataFile.partition(i)._2))
      if (vals.isEmpty) -1.0 else vals.max - vals.min
    }
    val dim = if (widths.nonEmpty && widths.max > 0) widths.indexOf(widths.max) else -1
    val sorted =
      if (dim >= 0) entries.sortBy(e => numeric(e.dataFile.partition(dim)._2).getOrElse(0.0))
      else entries
    val (left, right) = sorted.splitAt(sorted.size / 2)
    bisect(left, pieces / 2) ++ bisect(right, pieces / 2)
  }

  /** Writes one manifest + its list entry with per-partition-field summaries
    * (update_partitions, manifest.rs:527-636).
    */
  private[table] def writeManifest(table: IceTable, schema: IceSchema,
                                   entries: Seq[ManifestEntry], snapshotId: Long, seq: Long,
                                   content: Int): ManifestListEntry = {
    val m = table.metadata
    val spec = m.defaultSpec
    val path = s"${m.location}/metadata/${UUID.randomUUID()}-m$content.avro"
    val len = ManifestIO.writeManifest(path, spec, schema, entries)
    val partTypes = spec.partitionType(schema).fields
    val summaries = partTypes.zipWithIndex.map { case (pf, i) =>
      // delete files may be unpartitioned even when the table is partitioned
      // (global deletes) — they contribute "unknown" to the summary
      val vals = entries.map(e => e.dataFile.partition.lift(i).map(_._2).orNull)
      val nonNull = vals.filter(_ != null)
      FieldSummary(
        containsNull = vals.exists(_ == null),
        containsNan = Some(nonNull.exists {
          case d: Double => d.isNaN; case f: Float => f.isNaN; case _ => false
        }),
        lowerBound = nonNull.reduceOption((a, b) => if (compareVals(a, b) <= 0) a else b)
          .map(ValueCodec.toBytes),
        upperBound = nonNull.reduceOption((a, b) => if (compareVals(a, b) >= 0) a else b)
          .map(ValueCodec.toBytes))
    }
    val added = entries.filter(_.status == StatusAdded)
    val existing = entries.filter(_.status == StatusExisting)
    ManifestListEntry(
      manifestPath = path,
      manifestLength = len,
      partitionSpecId = spec.specId,
      content = content,
      sequenceNumber = seq,
      minSequenceNumber = entries.flatMap(_.sequenceNumber).foldLeft(seq)(math.min),
      addedSnapshotId = snapshotId,
      addedFilesCount = added.size,
      existingFilesCount = existing.size,
      deletedFilesCount = 0,
      addedRowsCount = added.map(_.dataFile.recordCount).sum,
      existingRowsCount = existing.map(_.dataFile.recordCount).sum,
      deletedRowsCount = 0L,
      partitions = summaries)
  }
}

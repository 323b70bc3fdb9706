package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.core.Transform
import graft.spec._
import graft.table.IceTable
import graft.table.ManifestModel._

/** Pins what each content operation of [[Transaction]] commits: the
  * snapshot summary, the manifest-list entries (content, spec id,
  * added/existing files and rows, sequence numbers, adding snapshot), the
  * parent snapshot and the V3 `first-row-id` under row lineage. One table
  * runs append, delete-only, data + deletes ("overwrite"), a branch append,
  * `rewriteManifests`, `rewriteFiles`, `rewriteDeletes` and a replace that
  * a tag and the branch partly protect. The files are metadata only: every
  * operation here is driver-side and never opens a data file.
  */
class TransactionPinSpec extends AnyFunSuite {
  import TransactionPinSpec.Pin

  private val schema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "p", required = false, IceType.IntT)))
  private val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", Transform.Identity)))

  test("each content operation commits the pinned summary, manifest list, parent and row ids") {
    val cat = new FileCatalog(Files.createTempDirectory("graft-txpin").toString)
    var t: IceTable = cat.createTable(TableIdent(Seq("pin"), "t"), schema, spec,
      Map("write.row-lineage.enabled" -> "true"))
    def file(name: String, rows: Long, p: Int, content: Int = ContentData): DataFile =
      DataFile(content, s"${t.location}/data/$name.parquet", FormatParquet, Seq("p" -> p),
        rows, fileSizeInBytes = 100L * rows)
    def del(name: String, rows: Long, p: Int): DataFile = file(name, rows, p, ContentPositionDeletes)

    val labels = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    def label(id: Long): String = labels.getOrElse(id, s"unknown-$id")
    def head(branch: Option[String] = None): Snapshot = t.currentSnapshot(branch).get
    def pin(name: String, branch: Option[String] = None): Pin = {
      val s = head(branch)
      labels(s.snapshotId) = name
      Pin(s.parentSnapshotId.map(label), s.sequenceNumber, s.summary,
        t.manifests(s).map(ml =>
          s"c${ml.content} spec${ml.partitionSpecId} " +
            s"add ${ml.addedFilesCount}/${ml.addedRowsCount} " +
            s"ex ${ml.existingFilesCount}/${ml.existingRowsCount} " +
            s"seq ${ml.sequenceNumber}/${ml.minSequenceNumber} by ${label(ml.addedSnapshotId)}"),
        s.firstRowId)
    }

    // append: two data files into an empty table
    t = t.newTransaction().appendData(Seq(file("a1", 10, 1), file("a2", 20, 2))).commit()
    assert(pin("S1") == Pin(None, 1, Map("operation" -> "append",
      "added-data-files" -> "2", "added-delete-files" -> "0", "added-records" -> "30",
      "total-records" -> "30", "total-data-files" -> "2", "assigned-row-ids" -> "30"),
      Seq("c0 spec0 add 2/30 ex 0/0 seq 1/1 by S1"), Some(0L)))

    // delete-only: a positional delete file, data manifests carried
    t = t.newTransaction().appendDeletes(Seq(del("d1", 3, 1))).commit()
    assert(pin("S2") == Pin(Some("S1"), 2, Map("operation" -> "delete",
      "added-data-files" -> "0", "added-delete-files" -> "1", "added-records" -> "0",
      "total-records" -> "30", "total-data-files" -> "2"),
      Seq("c0 spec0 add 2/30 ex 0/0 seq 1/1 by S1", "c1 spec0 add 1/3 ex 0/0 seq 2/2 by S2"),
      None))

    // data + deletes in one commit: merged into the one data manifest
    t = t.newTransaction().appendData(Seq(file("a3", 5, 1)))
      .appendDeletes(Seq(del("d2", 2, 2))).commit()
    assert(pin("S3") == Pin(Some("S2"), 3, Map("operation" -> "overwrite",
      "added-data-files" -> "1", "added-delete-files" -> "1", "added-records" -> "5",
      "total-records" -> "35", "total-data-files" -> "3", "assigned-row-ids" -> "5"),
      Seq("c0 spec0 add 1/5 ex 2/30 seq 3/1 by S3", "c1 spec0 add 1/3 ex 0/0 seq 2/2 by S2",
        "c1 spec0 add 1/2 ex 0/0 seq 3/3 by S3"),
      Some(30L)))

    // branch append: forks from main's head, main does not move
    t = t.newTransaction(Some("dev")).appendData(Seq(file("b1", 7, 2))).commit()
    assert(pin("S4", Some("dev")) == Pin(Some("S3"), 4, Map("operation" -> "append",
      "added-data-files" -> "1", "added-delete-files" -> "0", "added-records" -> "7",
      "total-records" -> "42", "total-data-files" -> "4", "assigned-row-ids" -> "7"),
      Seq("c0 spec0 add 1/7 ex 3/35 seq 4/1 by S4", "c1 spec0 add 1/3 ex 0/0 seq 2/2 by S2",
        "c1 spec0 add 1/2 ex 0/0 seq 3/3 by S3"),
      Some(35L)))
    assert(label(head().snapshotId) == "S3")

    // rewriteManifests: the same entries, existing, at a new sequence number
    val dataS3 = t.entries(head()).filter(_.dataFile.content == ContentData)
    t = t.newTransaction().rewriteManifests(dataS3).commit()
    assert(pin("S5") == Pin(Some("S3"), 5, Map("operation" -> "replace",
      "rewritten-data-manifests" -> "1", "added-data-files" -> "0", "added-records" -> "0",
      "total-records" -> "35", "total-data-files" -> "3"),
      Seq("c0 spec0 add 0/0 ex 3/35 seq 5/1 by S5", "c1 spec0 add 1/3 ex 0/0 seq 2/2 by S2",
        "c1 spec0 add 1/2 ex 0/0 seq 3/3 by S3"),
      None))

    // rewriteFiles: a1 is rewritten as c1, which takes row ids from the
    // table's next-row-id (42 after the branch append)
    val keepData = t.entries(head())
      .filter(e => e.dataFile.content == ContentData && !e.dataFile.filePath.endsWith("/a1.parquet"))
    t = t.newTransaction().rewriteFiles(keepData, Seq(file("c1", 10, 1))).commit()
    assert(pin("S6") == Pin(Some("S5"), 6, Map("operation" -> "replace",
      "rewritten-data-manifests" -> "1", "added-data-files" -> "1", "added-records" -> "10",
      "total-records" -> "35", "total-data-files" -> "3", "assigned-row-ids" -> "10"),
      Seq("c0 spec0 add 1/10 ex 2/25 seq 6/1 by S6", "c1 spec0 add 1/3 ex 0/0 seq 2/2 by S2",
        "c1 spec0 add 1/2 ex 0/0 seq 3/3 by S3"),
      Some(42L)))

    // rewriteDeletes: d2 kept at its sequence number, d1 replaced by e1
    val keepDel = t.entries(head())
      .filter(e => e.dataFile.content != ContentData && e.dataFile.filePath.endsWith("/d2.parquet"))
    t = t.newTransaction().rewriteDeletes(keepDel, Seq(del("e1", 4, 1))).commit()
    assert(pin("S7") == Pin(Some("S6"), 7, Map("operation" -> "delete",
      "rewritten-delete-files" -> "1", "total-records" -> "35", "total-data-files" -> "3"),
      Seq("c0 spec0 add 1/10 ex 2/25 seq 6/1 by S6", "c1 spec0 add 1/4 ex 1/2 seq 7/3 by S7"),
      None))

    // replace: the tag on S5 and the dev branch keep their lineages; S6 and
    // S7 are removed and their unshared manifests and lists deleted
    val s5 = labels.collectFirst { case (id, "S5") => id }.get
    t = t.newTransaction().setRef("keep", s5).commit()
    assert(label(head().snapshotId) == "S7", "a ref-only commit makes no snapshot")
    val s7 = head()
    val s6 = t.snapshotById(s7.parentSnapshotId.get).get
    val removedLists = Seq(s6.manifestList, s7.manifestList)
    val removedMans = (t.manifests(s6) ++ t.manifests(s7)).map(_.manifestPath).distinct
    val s5Mans = t.manifests(t.snapshotById(s5).get).map(_.manifestPath)
    t = t.newTransaction().replace(Seq(file("r1", 12, 1), file("r2", 23, 2))).commit()
    assert(pin("S8") == Pin(Some("S7"), 8, Map("operation" -> "replace",
      "added-data-files" -> "2", "added-records" -> "35",
      "total-records" -> "35", "total-data-files" -> "2", "assigned-row-ids" -> "35"),
      Seq("c0 spec0 add 2/35 ex 0/0 seq 8/8 by S8"), Some(52L)))
    assert(t.metadata.snapshots.keySet.map(label) == Set("S1", "S2", "S3", "S4", "S5", "S8"))
    assert(t.metadata.refs.keySet == Set("main", "dev", "keep"))
    assert(t.metadata.nextRowId == 87L)
    def exists(p: String): Boolean = Files.exists(Paths.get(p))
    assert(removedLists.forall(p => !exists(p)))
    assert(removedMans.filterNot(s5Mans.contains).size == 2)
    assert(removedMans.filterNot(s5Mans.contains).forall(p => !exists(p)))
    assert(s5Mans.forall(exists) && exists(t.snapshotById(s5).get.manifestList))
  }
}

object TransactionPinSpec {
  /** Summary, list entries, parent, sequence number and first row id, with
    * snapshot ids replaced by the pin's labels. */
  final case class Pin(parent: Option[String], seq: Long, summary: Map[String, String],
                       list: Seq[String], firstRowId: Option[Long])
}

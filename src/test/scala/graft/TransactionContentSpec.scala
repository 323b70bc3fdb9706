package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.spec._
import graft.table.IceTable
import graft.table.ManifestModel._

/** A transaction carries one content operation: a second one fails at its
  * builder, naming both, and nothing is committed. */
class TransactionContentSpec extends AnyFunSuite {

  private def table(): IceTable =
    new FileCatalog(Files.createTempDirectory("graft-txone").toString)
      .createTable(TableIdent(Seq("one"), "t"),
        IceSchema(0, Seq(NestedField(1, "id", required = false, IceType.LongT))),
        PartitionSpec(0, Nil))

  private def file(t: IceTable, name: String, content: Int = ContentData): DataFile =
    DataFile(content, s"${t.location}/data/$name.parquet", FormatParquet, Nil, 5L, 500L)

  private def assertNames(e: Throwable, ops: String*): Unit =
    ops.foreach(op => assert(e.getMessage.contains(op), e.getMessage))

  test("appendData then replace fails naming both; the appended files are not dropped silently") {
    val t = table()
    val e = intercept[IllegalArgumentException](
      t.newTransaction().appendData(Seq(file(t, "a"))).replace(Seq(file(t, "b"))))
    assertNames(e, "replace", "appendData")
    assert(t.currentSnapshot().isEmpty)
  }

  test("replace then appendDeletes fails naming both") {
    val t = table()
    val e = intercept[IllegalArgumentException](
      t.newTransaction().replace(Seq(file(t, "b")))
        .appendDeletes(Seq(file(t, "d", ContentPositionDeletes))))
    assertNames(e, "appendDeletes", "replace")
  }

  test("data and delete appends accumulate into one overwrite; rewrites exclude appends") {
    val t = table()
    t.newTransaction().appendData(Seq(file(t, "a"))).commit()
    val committed = t.newTransaction().appendData(Seq(file(t, "b")))
      .appendDeletes(Seq(file(t, "d", ContentPositionDeletes)))
      .appendData(Seq(file(t, "c"))).commit()
    val snap = committed.currentSnapshot().get
    assert(snap.summary("operation") == "overwrite")
    assert(snap.summary("added-data-files") == "2")
    val kept = committed.entries(snap).filter(_.dataFile.content == ContentData)
    val e = intercept[IllegalArgumentException](
      committed.newTransaction().rewriteManifests(kept).appendData(Seq(file(t, "x"))))
    assertNames(e, "appendData", "rewriteManifests")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog._
import graft.core.Transform
import graft.spec._
import graft.spark.{IceScan, IceWrite}

/** End-to-end table-format tests mirroring the reference's integration suite
  * (FIXTURES.md §1: README.md:156-247 insert-then-aggregate expectations;
  * equality_delete.rs; insert_sequence_number.rs).
  */
class IceTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def freshCatalog(): FileCatalog =
    new FileCatalog(Files.createTempDirectory("graft-wh").toString)

  /** FIXTURES.md §1 orders schema, day-partitioned on `date`. */
  def ordersSchema: IceSchema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "customer_id", required = false, IceType.LongT),
    NestedField(3, "product_id", required = false, IceType.LongT),
    NestedField(4, "date", required = false, IceType.DateT),
    NestedField(5, "amount", required = false, IceType.IntT)))

  def daySpec: PartitionSpec =
    PartitionSpec(0, Seq(PartitionField(4, 1000, "date_day", Transform.Day)))

  def batch1(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, 1L, 1L, "2020-01-01", 1), (2L, 2L, 1L, "2020-01-01", 1),
      (3L, 3L, 1L, "2020-01-01", 3), (4L, 1L, 2L, "2020-02-02", 1),
      (5L, 1L, 1L, "2020-02-02", 2), (6L, 3L, 3L, "2020-02-02", 3))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))
  }

  def batch2(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (7L, 1L, 3L, "2020-01-03", 1), (8L, 2L, 1L, "2020-01-03", 2),
      (9L, 2L, 2L, "2020-01-03", 1))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))
  }

  test("README example: insert twice, aggregate per product (expected 1→9, 2→2, 3→4)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    val ident = TableIdent(Seq("test"), "orders")
    var table = cat.createTable(ident, ordersSchema, daySpec)

    table = IceWrite.append(spark, table, batch1)
    val sums1 = IceScan.scan(spark, table).groupBy("product_id")
      .agg(sum("amount").as("s")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums1 == Map(1L -> 7L, 2L -> 1L, 3L -> 3L))

    table = IceWrite.append(spark, table, batch2)
    val sums2 = IceScan.scan(spark, table).groupBy("product_id")
      .agg(sum("amount").as("s")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums2 == Map(1L -> 9L, 2L -> 2L, 3L -> 4L))

    // snapshots + sequence numbers advance (insert_sequence_number.rs analogue)
    val m = table.metadata
    assert(m.snapshots.size == 2)
    assert(m.snapshots.values.map(_.sequenceNumber).toSet == Set(1L, 2L))
    assert(m.currentSnapshot(None).get.sequenceNumber == 2L)
  }

  test("time travel reads the first snapshot's content") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "tt"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val snap1 = table.currentSnapshot(None).get.snapshotId
    table = IceWrite.append(spark, table, batch2)

    assert(IceScan.scan(spark, table).count() == 9)
    val asOf = IceScan.scan(spark, table, options = IceScan.ScanOptions(snapshotId = Some(snap1)))
    assert(asOf.count() == 6)
  }

  test("incremental scan (afterSequence) sees only the second batch") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "inc"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val seq1 = table.currentSnapshot(None).get.sequenceNumber
    table = IceWrite.append(spark, table, batch2)
    val delta = IceScan.scan(spark, table, options = IceScan.ScanOptions(afterSequence = Some(seq1)))
    assert(delta.count() == 3)
    assert(delta.select(min("id")).head().getLong(0) == 7L)
  }

  test("partition pruning reads fewer files; results unchanged") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "prune"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    val snap = table.currentSnapshot(None).get
    assert(table.dataFiles(snap).size == 3) // 3 distinct days

    val filter = col("date") === lit("2020-01-03")
    val df = IceScan.scan(spark, table, Seq(filter))
    // pruned plan should reference exactly 1 file
    val files = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.inputFiles.length
    }.sum
    assert(files == 1, s"expected 1 surviving file, got $files")
    assert(df.count() == 3)
  }

  test("identity partitioning keeps the source column in data files") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    val spec = PartitionSpec(0, Seq(PartitionField(3, 1000, "product_id", Transform.Identity)))
    var table = cat.createTable(TableIdent(Seq("test"), "idpart"), ordersSchema, spec)
    table = IceWrite.append(spark, table, batch1)
    val snap = table.currentSnapshot(None).get
    assert(table.dataFiles(snap).size == 3) // products 1, 2, 3
    val df = IceScan.scan(spark, table)
    // the identity-partitioned column must round-trip with its values (a
    // name collision with the partition dir column would null it out)
    assert(df.filter(col("product_id").isNull).count() == 0)
    assert(df.groupBy("product_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 4L, 2L -> 1L, 3L -> 1L))
    // pruning on the identity column hits one file
    val pruned = IceScan.scan(spark, table, Seq(col("product_id") === 2))
    val files = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.inputFiles.length
    }.sum
    assert(files == 1, s"expected 1 surviving file, got $files")
    assert(pruned.count() == 1)
  }

  test("equality delete masks older rows only (MoR anti-join)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "del"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // delete product_id = 1 rows by id (ids 1, 2, 5)
    import s.implicits._
    val toDelete = Seq(1L, 2L, 5L).toDF("id")
    table = IceWrite.appendEqualityDeletes(spark, table, toDelete, equalityIds = Seq(1))
    assert(IceScan.scan(spark, table).count() == 3)

    // rows appended AFTER the delete are not masked even with matching keys
    table = IceWrite.append(spark, table, batch1.filter($"id" === 1L))
    assert(IceScan.scan(spark, table).count() == 4)

    val sums = IceScan.scan(spark, table).groupBy("product_id")
      .agg(sum("amount").as("s")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // survivors: id=3 (p1,3), id=4 (p2,1), id=6 (p3,3) + re-inserted id=1 (p1,1)
    assert(sums == Map(1L -> 4L, 2L -> 1L, 3L -> 3L))
  }

  test("partition-scoped deletes: one fold, O(1) unions, per-partition masking") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "scoped"), ordersSchema, daySpec)
    // 8 partitions (dates), ids 1..10 in EVERY partition
    val dates = (1 to 8).map(i => f"2021-03-$i%02d")
    val rows = for (d <- dates; id <- 1L to 10L)
      yield (id, id, id % 3, d, 1)
    table = IceWrite.append(spark, table,
      rows.toDF("id", "customer_id", "product_id", "date", "amount")
        .withColumn("date", to_date($"date")))

    // partition-scoped equality deletes: partition i masks id=i ONLY THERE.
    // The public write path emits global deletes, so scope them by stamping
    // the manifest partition tuple (what an external Iceberg writer produces).
    val deleteFiles = dates.zipWithIndex.flatMap { case (d, i) =>
      val day = java.time.LocalDate.parse(d).toEpochDay.toInt
      IceWrite.writeDataFiles(spark, table, Seq(Tuple1((i + 1).toLong)).toDF("id"),
          ordersSchema.project(Seq(1)),
          content = graft.table.ManifestModel.ContentEqualityDeletes, equalityIds = Seq(1))
        .map(_.copy(partition = Seq("date_day" -> day)))
    }
    table = table.newTransaction(None).appendDeletes(deleteFiles).commit()

    val df = IceScan.scan(spark, table)
    // id=i masked only in partition i: 80 rows - 8 masked
    assert(df.count() == 72)
    // id=1 survives in the 7 partitions that did NOT delete it
    assert(df.filter($"id" === 1L).count() == 7)
    // plan shape: ONE fold across all 8 affected partitions — scoping lives
    // in the anti-join key, not in per-partition plan branches
    val plan = df.queryExecution.executedPlan.toString
    val unions = plan.split('\n').count(_.contains("Union"))
    assert(unions <= 1, s"per-partition fan-out is back ($unions unions):\n$plan")
  }

  test("rewriteDeletes rejects kept entries whose partition tuple predates the default spec") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "rwdguard"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // scoped eq delete under the day spec: tuple field "date_day"
    table = IceWrite.appendEqualityDeletes(spark, table,
      Seq((1L, "2020-01-01")).toDF("id", "date").withColumn("date", to_date($"date")),
      equalityIds = Seq(1, 4))
    val kept = table.deleteFiles(table.currentSnapshot(None).get)
    assert(kept.nonEmpty && kept.forall(_.dataFile.partition.exists(_._2 != null)))
    // evolve: partition by product_id — "date_day" no longer names a field
    // of the default spec's partition type, so re-encoding the kept entry
    // (writeManifest puts tuple values by NAME) would null its scope
    table = table.newTransaction(None)
      .setSpec(Seq(PartitionField(3, 1001, "product_id", Transform.Identity))).commit()
    val ex = intercept[IllegalArgumentException] {
      table.newTransaction(None).rewriteDeletes(kept, Nil)
    }
    assert(ex.getMessage.contains("do not exist in the current default spec"), ex.getMessage)
    // under the UNEVOLVED spec the same kept entries pass the guard —
    // their tuple names all exist in the default spec's partition type
    var tok = cat.createTable(TableIdent(Seq("test"), "rwdok"), ordersSchema, daySpec)
    tok = IceWrite.append(spark, tok, batch1)
    tok = IceWrite.appendEqualityDeletes(spark, tok,
      Seq((1L, "2020-01-01")).toDF("id", "date").withColumn("date", to_date($"date")),
      equalityIds = Seq(1, 4))
    val keptOk = tok.deleteFiles(tok.currentSnapshot(None).get)
    tok.newTransaction(None).rewriteDeletes(keptOk, Nil) // must not throw
  }

  test("equality deletes keyed on the partition source write PARTITION-SCOPED files") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "scopedw"), ordersSchema, daySpec)
    val dates = (1 to 8).map(i => f"2021-03-$i%02d")
    val rows = for (d <- dates; id <- 1L to 10L) yield (id, id, id % 3, d, 1)
    table = IceWrite.append(spark, table,
      rows.toDF("id", "customer_id", "product_id", "date", "amount")
        .withColumn("date", to_date($"date")))
    // the delete key (id, date) COVERS the partition source (date) → the
    // write itself scopes the files per partition dir, no manual stamping
    val toDel = dates.zipWithIndex.map { case (d, i) => ((i + 1).toLong, d) }
      .toDF("id", "date").withColumn("date", to_date($"date"))
    table = IceWrite.appendEqualityDeletes(spark, table, toDel, equalityIds = Seq(1, 4))
    val delEntries = table.deleteFiles(table.currentSnapshot(None).get)
    assert(delEntries.size == 8, s"expected one scoped file per touched partition: ${delEntries.size}")
    assert(delEntries.forall(_.dataFile.partition.exists(_._2 != null)),
      "scoped delete files must carry a real partition tuple")
    // masking identical to the global form: id=i gone only from partition i
    val df = IceScan.scan(spark, table)
    assert(df.count() == 72)
    assert(df.filter($"id" === 1L).count() == 7)
    // scoped-delete PRUNING: a partition-pruned scan plans only the delete
    // files whose partition tuple can match — the other 7 scoped files are
    // dropped before the MoR fold (delete side stays O(affected
    // partitions) at scale). 1 data file + 1 delete file survive.
    val prunedScan = IceScan.scan(spark, table,
      Seq(col("date") === to_date(lit(dates.head))))
    // under the gate the delete files ride the mask's descriptor, not a
    // relation: 1 data file among the relations, 1 scoped delete file in
    // the eqdeleted filter
    val maskedFiles = prunedScan.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: graft.spark.expressions.EqDeleted => e.groups.map(_.files.size).sum
    })).sum
    assert(prunedScan.inputFiles.length == 1 && maskedFiles == 1,
      s"expected 1 data + 1 scoped delete file in the pruned plan, got " +
        s"${prunedScan.inputFiles.length} + $maskedFiles")
    // past the gate inputFiles spans every relation in the MoR plan — data
    // AND delete sides (the AQE-wrapped physical plan hides
    // FileSourceScanExec leaves)
    spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
    try {
      val inputFiles = IceScan.scan(spark, table,
        Seq(col("date") === to_date(lit(dates.head)))).inputFiles.length
      assert(inputFiles == 2,
        s"expected 1 data + 1 scoped delete file in the pruned plan, got $inputFiles")
    } finally spark.conf.unset("spark.graft.delete.broadcast-threshold")
    // exactness: id=1 was deleted in partition 1, ids 2..10 survive
    assert(prunedScan.count() == 9)
    assert(prunedScan.filter($"id" === 1L).count() == 0)

    // an EVOLVED spec forces global deletes: data files under the old spec
    // read with a null tag, so a scoped file would silently skip them
    var tEvo = cat.createTable(TableIdent(Seq("test"), "evow"), ordersSchema,
      PartitionSpec(0, Nil))
    tEvo = IceWrite.append(spark, tEvo, rows.take(20)
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))) // old-spec (unpartitioned) data
    tEvo = tEvo.newTransaction(None).setSpec(daySpec.fields).commit()
    tEvo = IceWrite.appendEqualityDeletes(spark, tEvo,
      Seq((1L, dates.head)).toDF("id", "date").withColumn("date", to_date($"date")),
      equalityIds = Seq(1, 4))
    assert(tEvo.deleteFiles(tEvo.currentSnapshot(None).get)
      .forall(_.dataFile.partition.forall(_._2 == null)),
      "a spec-evolved table must keep equality deletes global")
    // the delete still masks the OLD-SPEC row it targets
    assert(IceScan.scan(spark, tEvo).filter($"id" === 1L).count() == 1,
      "the (id=1, date=dates.head) row must be masked despite spec evolution")

    // after compact() every LIVE manifest carries the CURRENT spec (data
    // rewritten under it; delete files materialized and dropped), so scoped
    // writes RESUME — the gate reads the manifest list, not spec-count
    // history (a spec evolution is not a permanent global-delete sentence)
    tEvo = graft.table.Maintenance.compact(spark, tEvo)
    assert(tEvo.manifests(tEvo.currentSnapshot(None).get)
      .forall(_.partitionSpecId == tEvo.metadata.defaultSpecId),
      "compact must leave every live manifest under the default spec")
    tEvo = IceWrite.appendEqualityDeletes(spark, tEvo,
      Seq((2L, dates.head)).toDF("id", "date").withColumn("date", to_date($"date")),
      equalityIds = Seq(1, 4))
    val evoDel = tEvo.deleteFiles(tEvo.currentSnapshot(None).get)
    assert(evoDel.nonEmpty && evoDel.forall(_.dataFile.partition.exists(_._2 != null)),
      "post-compact scoped writes must resume on the evolved table")
    // masking exact against a PRE-EVOLUTION key: the (id=2, dates.head) row
    // — written unpartitioned under the old spec, carried through compact —
    // is masked in its partition only; its sibling in dates(1) survives,
    // and the pre-compact global delete of id=1 stays applied
    val evoScan = IceScan.scan(spark, tEvo)
    assert(evoScan.count() == 18, s"expected 18 rows, got ${evoScan.count()}")
    assert(evoScan.filter($"id" === 2L).count() == 1)
    assert(evoScan.filter($"id" === 2L && $"date" === to_date(lit(dates.head))).count() == 0)
    assert(evoScan.filter($"id" === 1L).count() == 1)

    // a delete key NOT covering the partition source still writes global
    var t2 = cat.createTable(TableIdent(Seq("test"), "globalw"), ordersSchema, daySpec)
    t2 = IceWrite.append(spark, t2, rows.take(10)
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date")))
    t2 = IceWrite.appendEqualityDeletes(spark, t2, Seq(1L).toDF("id"), equalityIds = Seq(1))
    assert(t2.deleteFiles(t2.currentSnapshot(None).get)
      .forall(_.dataFile.partition.forall(_._2 == null)),
      "an id-only delete on a partitioned table must stay global")
    assert(IceScan.scan(spark, t2).count() == 9)
  }

  test("convertEqualityDeletes: exact results, all-positional tree, collapsed plan") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var t = cat.createTable(TableIdent(Seq("test"), "conv"), ordersSchema, daySpec)
    val dates = (1 to 4).map(i => f"2021-03-$i%02d")
    def mk(rows: Seq[(Long, Long, Long, String, Int)]) =
      rows.toDF("id", "customer_id", "product_id", "date", "amount")
        .withColumn("date", to_date($"date"))
    t = IceWrite.append(spark, t, mk(for (d <- dates; id <- 1L to 10L) yield (id, id, id % 3, d, 1)))
    // scoped eq deletes (key covers the partition source): id=i in date i
    t = IceWrite.appendEqualityDeletes(spark, t,
      mk(dates.zipWithIndex.map { case (d, i) => ((i + 1).toLong, 0L, 0L, d, 0) })
        .select("id", "date"), equalityIds = Seq(1, 4))
    // global eq delete: id=9 everywhere (4 rows)
    t = IceWrite.appendEqualityDeletes(spark, t, Seq(9L).toDF("id"), equalityIds = Seq(1))
    // re-insert AFTER the deletes: must stay alive through conversion
    t = IceWrite.append(spark, t, mk(Seq((9L, 9L, 0L, dates.head, 7))))
    // a positional delete on top (amount=1 rows of id=10): consolidated
    t = IceWrite.appendPositionDeletes(spark, t, col("id") === 10L && col("date") === to_date(lit(dates.head)))

    val before = IceScan.scan(spark, t).collect().map(_.toString).sorted.toSeq
    val (eqBefore, posAfter, positions) = graft.table.Maintenance.convertEqualityDeletes(spark, t)
    assert(eqBefore == 5, s"fixture wrote 4 scoped + 1 global eq files, got $eqBefore")
    assert(positions == 4L + 4L + 1L, s"4 scoped + 4 global + 1 carried positional, got $positions")
    t = t.refresh()
    val delEntries = t.deleteFiles(t.currentSnapshot(None).get)
    assert(delEntries.nonEmpty &&
      delEntries.forall(_.dataFile.content == graft.table.ManifestModel.ContentPositionDeletes),
      "conversion must leave an all-positional delete tree")
    assert(delEntries.size == posAfter)
    val scanned = IceScan.scan(spark, t)
    val after = scanned.collect().map(_.toString).sorted.toSeq
    assert(after == before, "conversion must not change scan results")
    // the per-sequence-point fold is gone: one global positional mask, the
    // index filter under the gate and one anti-join past it. AQE's toString
    // prints the plan twice (Final + Initial) — count the final section only
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val plan = finalPlan(scanned)
    assert(!plan.contains("LeftAnti") && plan.split('\n').count(_.contains("Filter NOT dvdeleted(")) == 1,
      s"expected exactly the positional mask:\n$plan")
    assert(!plan.contains("Union"), s"data segments must not split post-conversion:\n$plan")
    spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
    try {
      val gated = finalPlan(IceScan.scan(spark, t))
      assert(gated.split('\n').count(_.contains("LeftAnti")) == 1,
        s"expected exactly the positional anti-join past the gate:\n$gated")
      assert(!gated.contains("Union"), s"data segments must not split post-conversion:\n$gated")
    } finally spark.conf.unset("spark.graft.delete.broadcast-threshold")
    // idempotent: a second conversion is a no-op shape-wise
    val (e2, p2, n2) = graft.table.Maintenance.convertEqualityDeletes(spark, t.refresh())
    assert(e2 == 0 && n2 == 0L && p2 == posAfter)
  }

  test("convertEqualityDeletes size-gates the delete-side broadcast") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    def build(name: String): graft.table.IceTable = {
      var t = cat.createTable(TableIdent(Seq("test"), name), ordersSchema, daySpec)
      def mk(rows: Seq[(Long, Long, Long, String, Int)]) =
        rows.toDF("id", "customer_id", "product_id", "date", "amount")
          .withColumn("date", to_date($"date"))
      t = IceWrite.append(spark, t, mk(for (id <- 1L to 40L) yield (id, id, id % 3, "2021-03-01", 1)))
      t = IceWrite.appendEqualityDeletes(spark, t, Seq(3L, 7L, 11L).toDF("id"), equalityIds = Seq(1))
      t.refresh()
    }
    // captured executed plans adjudicate the join strategy the gate picked
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def semiLines(ps: Seq[String]): Seq[String] =
      ps.flatMap(_.split('\n')).filter(_.contains("LeftSemi"))

    // auto-broadcast OFF in both runs: the only thing that can produce a
    // BroadcastHashJoin is the gate's explicit hint — at 100 TB stats-based
    // auto-broadcast wouldn't fire either, so this isolates the gate.
    // ONE try/finally covers everything: a failure in run A must not leak
    // the conf into later suite tests (review finding r16)
    import scala.jdk.CollectionConverters._
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ta = build("conv_bcast")
      spark.listenerManager.register(ql)
      val resA = try {
        val r = graft.table.Maintenance.convertEqualityDeletes(spark, ta)
        org.apache.spark.sql.GraftShim.drainListenerBus(spark); r
      } finally spark.listenerManager.unregister(ql)
      val defaultSemis = semiLines(plans.asScala.toSeq)
      assert(defaultSemis.nonEmpty && defaultSemis.forall(_.contains("Broadcast")),
        s"small delete set must broadcast (positive control):\n${defaultSemis.mkString("\n")}")

      // above the gate (threshold 0), the hint is dropped: the null-safe
      // eq-key equi-join carries a shuffled join, results identical
      plans.clear()
      val tb = build("conv_shuffle")
      spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
      spark.listenerManager.register(ql)
      val resB = try {
        val r = graft.table.Maintenance.convertEqualityDeletes(spark, tb)
        org.apache.spark.sql.GraftShim.drainListenerBus(spark); r
      } finally spark.listenerManager.unregister(ql)
      val gatedSemis = semiLines(plans.asScala.toSeq)
      assert(gatedSemis.nonEmpty && gatedSemis.forall(!_.contains("Broadcast")),
        s"gated delete set must NOT broadcast:\n${gatedSemis.mkString("\n")}")
      assert(resA._3 == resB._3 && resB._3 == 3L,
        s"conversion results must be identical across the gate: $resA vs $resB")
      assert(IceScan.scan(spark, tb.refresh()).collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 40L).filterNot(Set(3L, 7L, 11L)).toSeq)
    } finally {
      spark.conf.unset("spark.graft.delete.broadcast-threshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("scoped-write gate checks the TARGET branch's manifests, not main's") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    // unpartitioned spec0 data, then evolve to the day spec
    var t = cat.createTable(TableIdent(Seq("test"), "brgate"), ordersSchema,
      PartitionSpec(0, Nil))
    t = IceWrite.append(spark, t, batch1)
    t = t.newTransaction(None).setSpec(daySpec.fields).commit()
    // fork 'dev' BEFORE compaction: it keeps reaching the spec0 manifests
    t = IceWrite.append(spark, t.refresh(), batch2, branch = Some("dev"))
    // main compacts clean — every MAIN manifest now carries the day spec
    t = graft.table.Maintenance.compact(spark, t.refresh())
    assert(t.manifests(t.currentSnapshot(None).get)
      .forall(_.partitionSpecId == t.metadata.defaultSpecId))
    // a scoped-eligible delete committed to DEV must stay GLOBAL: dev's
    // spec0 data files read with a null tag, so a scoped file would
    // silently skip them (the gate must look at dev, not main)
    t = IceWrite.appendEqualityDeletes(spark, t.refresh(),
      Seq((1L, "2020-01-01")).toDF("id", "date").withColumn("date", to_date($"date")),
      equalityIds = Seq(1, 4), branch = Some("dev"))
    val devDels = t.deleteFiles(t.currentSnapshot(Some("dev")).get)
    assert(devDels.nonEmpty && devDels.forall(_.dataFile.partition.forall(_._2 == null)),
      "a delete committed to a branch holding old-spec data must stay global")
    // and it masks the spec0 row it targets on dev
    val dev = IceScan.scan(spark, t, options = IceScan.ScanOptions(branch = Some("dev")))
    assert(dev.filter($"id" === 1L).count() == 0, "dev row (id=1) must be masked")
  }

  test("rewriteDeletes rejects scoped entries whose tuple NAME was redefined across specs") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    val spec4 = PartitionSpec(0, Seq(PartitionField(1, 1000, "id_bucket", Transform.Bucket(4))))
    var t = cat.createTable(TableIdent(Seq("test"), "rwdbkt"), ordersSchema, spec4)
    t = IceWrite.append(spark, t, batch1)
    // scoped delete under bucket[4]: key (id) covers the partition source
    t = IceWrite.appendEqualityDeletes(spark, t, Seq(1L).toDF("id"), equalityIds = Seq(1))
    val kept = t.deleteFiles(t.currentSnapshot(None).get)
    assert(kept.exists(_.dataFile.partition.exists(_._2 != null)), "fixture must be scoped")
    // evolve to bucket[8] KEEPING the field name: the tuple value's meaning
    // changed — re-encoding by name would scope the delete to the wrong
    // bucket, so the guard must reject even though the name still exists
    t = t.newTransaction(None)
      .setSpec(Seq(PartitionField(1, 1001, "id_bucket", Transform.Bucket(8)))).commit()
    val ex = intercept[IllegalArgumentException] {
      t.newTransaction(None).rewriteDeletes(kept, Nil)
    }
    assert(ex.getMessage.contains("different (source, transform)"), ex.getMessage)
  }

  test("convertEqualityDeletes aborts when an equality key column was dropped by evolution") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var t = cat.createTable(TableIdent(Seq("test"), "convabort"), ordersSchema,
      PartitionSpec(0, Nil))
    t = IceWrite.append(spark, t, batch1)
    t = IceWrite.appendEqualityDeletes(spark, t, Seq(1L).toDF("customer_id"),
      equalityIds = Seq(2)) // keyed on customer_id (field id 2)
    // schema evolution drops the keyed column — the delete group can no
    // longer be converted; silently skipping it (r14 behavior) while
    // rewriteDeletes drops every eq file would resurface its rows forever
    t = t.newTransaction(None)
      .setSchema(IceSchema(1, ordersSchema.fields.filterNot(_.id == 2))).commit()
    val ex = intercept[IllegalArgumentException] {
      graft.table.Maintenance.convertEqualityDeletes(spark, t.refresh())
    }
    assert(ex.getMessage.contains("no longer resolve"), ex.getMessage)
    // nothing was rewritten: the equality files are still in the tree
    val dels = t.refresh().deleteFiles(t.refresh().currentSnapshot(None).get)
    assert(dels.exists(_.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes),
      "aborted conversion must leave the delete tree untouched")
  }

  test("convertEqualityDeletes reads each candidate data file once across delete waves") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var t = cat.createTable(TableIdent(Seq("test"), "convwaves"), ordersSchema,
      PartitionSpec(0, Nil))
    val R = 9000L
    t = IceWrite.append(spark, t, spark.range(1, R + 1).select(
      col("id"), col("id").as("customer_id"), (col("id") % 3).as("product_id"),
      to_date(lit("2021-03-01")).as("date"), lit(1).as("amount")))
    // 3 delete WAVES on the SAME key set — 3 sequence points, all with the
    // initial data file(s) as candidates
    for (w <- 0 until 3)
      t = IceWrite.appendEqualityDeletes(spark, t.refresh(),
        spark.range(w * 10 + 1, w * 10 + 11).select(col("id")), equalityIds = Seq(1))
    t = t.refresh()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val (eqB, _, positions) =
      try { val r = graft.table.Maintenance.convertEqualityDeletes(spark, t)
            Thread.sleep(700); r } // listener bus is async
      finally spark.sparkContext.removeSparkListener(listener)
    assert(eqB == 3 && positions == 30L, s"got $eqB files, $positions positions")
    // the r14 shape read candidates once per WAVE (≥ 3R records); the
    // single-pass shape reads them once (R + delete rows + mask re-reads)
    assert(records.get() < 2L * R,
      s"conversion read ${records.get()} records — candidate files re-read per wave")
    assert(IceScan.scan(spark, t.refresh()).count() == R - 30)
  }

  test("write sort order clusters files into disjoint ranges; pruning hits one file") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "sorted"), ordersSchema, PartitionSpec(0, Nil))
    table = table.newTransaction(None).setSortOrder(graft.spec.SortOrder(1,
      Seq(graft.spec.SortField(1, Transform.Identity, "asc", "nulls-first")))).commit()
    val big = (1 to 1000).map(i =>
      (i.toLong, i.toLong % 7, (i % 13).toLong, "2020-01-01", i % 5))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))
      .repartition(16) // ids spread across all input splits
    table = IceWrite.append(spark, table, big)
    val files = table.dataFiles(table.currentSnapshot(None).get)
    assert(files.size > 1, s"expected multiple files, got ${files.size}")
    // range-partitioned + sorted write → per-file id bounds are disjoint
    val pruned = IceScan.scan(spark, table, Seq(col("id") === 42))
    val read = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.inputFiles.length
    }.sum
    assert(read == 1, s"expected pruning to 1 file, got $read")
    assert(pruned.count() == 1)
  }

  test("MemoryCatalog backend: same transaction/scan/MoR semantics, CAS conflicts") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = new graft.catalog.MemoryCatalog(
      java.nio.file.Files.createTempDirectory("memwh").toString)
    var table = cat.createTable(TableIdent(Seq("mem"), "t"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.appendEqualityDeletes(spark, table, Seq(1L).toDF("id"), equalityIds = Seq(1))
    assert(IceScan.scan(spark, table).count() == 5)
    // stale handle, PURE DATA APPEND: the CAS failure is retried against the
    // refreshed base (appends never semantically conflict) — both batches land
    val stale = cat.loadTable(TableIdent(Seq("mem"), "t")).get
    IceWrite.append(spark, table.refresh(), batch2)
    IceWrite.append(spark, stale, batch2)
    assert(IceScan.scan(spark, cat.loadTable(TableIdent(Seq("mem"), "t")).get).count() == 11)
    // stale handle, row-level DELETE: re-basing would widen what the delete
    // masks (its sequence number rises past concurrent appends) → surfaced
    val stale2 = cat.loadTable(TableIdent(Seq("mem"), "t")).get
    IceWrite.append(spark, cat.loadTable(TableIdent(Seq("mem"), "t")).get, batch2)
    intercept[graft.catalog.CommitConflictException] {
      IceWrite.appendEqualityDeletes(spark, stale2, Seq(2L).toDF("id"), equalityIds = Seq(1))
    }
  }

  test("z-order compaction prunes on BOTH clustered columns") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "zordered"), ordersSchema, PartitionSpec(0, Nil))
    // two independent-ish dimensions: id 1..1000, amount a scrambled 0..999
    val big = (1 to 1000).map(i =>
      (i.toLong, 0L, 0L, "2020-01-01", (i * 7919) % 1000))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))
      .repartition(8)
    table = IceWrite.append(spark, table, big)
    table = graft.table.Maintenance.compactZOrder(spark, table, Seq("id", "amount"), outFiles = 8)
    val nFiles = table.dataFiles(table.currentSnapshot(None).get).size
    assert(nFiles == 8, s"expected 8 z-ordered files, got $nFiles")
    def filesRead(pred: org.apache.spark.sql.Column): Int =
      IceScan.scan(spark, table, Seq(pred)).queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.inputFiles.length
      }.sum
    // a single-column point filter must prune on EITHER dimension — the
    // whole point of multi-dimensional clustering over a single sort key
    // (probe values away from the z-curve quadrant edges, where range-sample
    // jitter can make a boundary file straddle quadrants)
    assert(filesRead(col("id") === 900) < nFiles, "no pruning on id")
    assert(filesRead(col("amount") === 100) < nFiles, "no pruning on amount")
    assert(IceScan.scan(spark, table).count() == 1000)
  }

  test("partitioned z-order compaction clusters inside each partition dir") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    // day-partitioned; small max-records forces several files per dir so
    // within-partition pruning is observable
    var table = cat.createTable(TableIdent(Seq("test"), "zpart"), ordersSchema, daySpec,
      Map("write.max-records-per-file" -> "100"))
    val big = (1 to 800).map(i =>
      (i.toLong, 0L, 0L, if (i % 2 == 0) "2020-01-01" else "2020-02-02", (i * 7919) % 1000))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date"))
    table = IceWrite.append(spark, table, big)
    table = graft.table.Maintenance.compactZOrder(spark, table, Seq("id", "amount"))
    val snap = table.currentSnapshot(None).get
    val files = table.dataFiles(snap)
    // layout preserved: both partition dirs still present, multiple files each
    val byPart = files.groupBy(_.dataFile.partition.map(_._2).toVector)
    assert(byPart.size == 2, s"partition layout lost: ${byPart.keySet}")
    assert(byPart.values.forall(_.size > 1), "need >1 file per dir to observe pruning")
    def filesRead(pred: org.apache.spark.sql.Column): Int =
      IceScan.scan(spark, table, Seq(pred)).queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.inputFiles.length
      }.sum
    val total = files.size
    // a partition-day filter plus a z-column point filter prunes BELOW the
    // day's own file count — z-clustering works within the dir
    val jan1EpochDay = java.time.LocalDate.of(2020, 1, 1).toEpochDay.toInt
    val jan1Files = byPart.collectFirst {
      case (k, fs) if k.exists(_ == jan1EpochDay) => fs.size
    }.getOrElse(fail(s"no 2020-01-01 partition among ${byPart.keySet}"))
    assert(filesRead(col("date") === lit("2020-01-01") && col("id") === 900) < jan1Files,
      s"no within-partition pruning on id (day has $jan1Files files)")
    assert(filesRead(col("amount") === 100) < total, "no pruning on amount")
    assert(IceScan.scan(spark, table).count() == 800)
  }

  test("CSV ingestion: external CSV loads into a graft table (S6)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    val csvDir = java.nio.file.Files.createTempDirectory("csvsrc")
    java.nio.file.Files.writeString(csvDir.resolve("in.csv"),
      "1,1,1,2020-01-01,5\n2,2,1,2020-01-01,7\n3,1,2,2020-02-02,1\n")
    val df = spark.read
      .schema("id LONG, customer_id LONG, product_id LONG, date DATE, amount INT")
      .csv(csvDir.toString)
    var table = cat.createTable(TableIdent(Seq("test"), "fromcsv"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, df)
    val got = IceScan.scan(spark, table).groupBy("product_id")
      .agg(sum("amount").as("s")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 12L, 2L -> 1L))
  }

  test("bloom-filter table property produces parquet bloom filters") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "bloomed"), ordersSchema,
      PartitionSpec(0, Nil),
      Map("write.parquet.bloom-filter-enabled.column.id" -> "true"))
    table = IceWrite.append(spark, table, batch1)
    val path = table.dataFiles(table.currentSnapshot(None).get).head.dataFile.filePath
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      import scala.jdk.CollectionConverters._
      val idCol = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "id").get
      assert(idCol.getBloomFilterOffset >= 0, "id column should carry a bloom filter")
      val amtCol = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "amount").get
      assert(amtCol.getBloomFilterOffset < 0, "amount column should NOT carry one")
    } finally reader.close()
  }

  test("positional delete masks exactly the (file, pos) rows; later appends unaffected") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "posdel"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // positional delete by predicate: no data rewrite, content=1 delete file
    table = IceWrite.appendPositionDeletes(spark, table, col("product_id") === 1)
    // batch1 has four product_id=1 rows (ids 1, 2, 3, 5)
    assert(IceScan.scan(spark, table).count() == 2)
    assert(IceScan.scan(spark, table).filter(col("product_id") === 1).count() == 0)
    // the delete pinned explicit paths — rows appended afterwards survive
    // even when they match the original predicate
    import s.implicits._
    table = IceWrite.append(spark, table, batch1.filter($"product_id" === 1L))
    assert(IceScan.scan(spark, table).filter(col("product_id") === 1).count() == 4)
    // positional + equality deletes compose
    table = IceWrite.appendEqualityDeletes(spark, table, Seq(4L).toDF("id"), equalityIds = Seq(1))
    assert(IceScan.scan(spark, table).count() == 5)
  }

  test("positional delete prunes to the predicate's partition before reading") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "pdprune"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1) // 2 partitions (2 dates)
    val snap = table.currentSnapshot(None).get
    val all = table.dataFiles(snap).map(_.dataFile.filePath)
    val pruned = IceScan.prunedDataFiles(spark, table,
      Seq(col("date") === lit("2020-01-01")), snap).map(_.dataFile.filePath)
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"delete-path pruning read ${pruned.size}/${all.size} files")
    // foldable scalar calls must prune too (resolveFilters constant-folds)
    val prunedFoldable = IceScan.prunedDataFiles(spark, table,
      Seq(col("date") === to_date(lit("2020-01-01"))), snap).map(_.dataFile.filePath)
    assert(prunedFoldable.toSet == pruned.toSet,
      s"foldable predicate did not prune: ${prunedFoldable.size}/${all.size}")
    // and the delete itself is still exact
    table = IceWrite.appendPositionDeletes(spark, table,
      col("date") === to_date(lit("2020-01-01")) && col("id") === 1L)
    assert(IceScan.scan(spark, table).count() == batch1.count() - 1)
  }

  test("positional delete resolves pre-rename files by field id") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "posren"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // rename product_id → pid keeping field id 3; the existing files carry
    // the OLD name, so only field-id resolution can bind the predicate
    val renamed = IceSchema(table.schema.schemaId, table.schema.fields.map(f =>
      if (f.name == "product_id") f.copy(name = "pid") else f),
      table.schema.identifierFieldIds)
    table = table.newTransaction(None).setSchema(renamed).commit()
    table = IceWrite.appendPositionDeletes(spark, table, col("pid") === 1)
    assert(IceScan.scan(spark, table).filter(col("pid") === 1).count() == 0)
    assert(IceScan.scan(spark, table).count() == 2)
  }

  test("every table-file reader resolves a renamed column by field id on a fresh session") {
    import spark.implicits._
    import graft.table.Maintenance
    // each reader runs first on its own fresh session (no graft read has
    // set the field-id flags there yet); the files carry the OLD name v
    val cat = freshCatalog()
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.LongT)))
    val rows = (1L to 10L).map(i => (i, i % 7)) // 7 distinct v values
    def renamed(name: String): graft.table.IceTable = {
      val ident = TableIdent(Seq("test"), name)
      val t = IceWrite.append(spark, cat.createTable(ident, schema, PartitionSpec(0, Nil)),
        rows.toDF("id", "v"))
      t.newTransaction(None).setSchema(IceSchema(t.schema.schemaId,
        t.schema.fields.map(f => if (f.name == "v") f.copy(name = "w") else f),
        t.schema.identifierFieldIds)).commit()
      cat.loadTable(ident).get
    }
    def contents(t: graft.table.IceTable): Seq[(Long, Long)] =
      IceScan.scan(spark.newSession(), t).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val survivors = rows.filterNot(_._2 == 3L) // w = 3 is ids 3 and 10

    assert(contents(renamed("rs_scan")) == rows)
    assert(contents(IceWrite.appendPositionDeletes(spark.newSession(), renamed("rs_pos"),
      col("w") === 3L)) == survivors)
    assert(contents(IceWrite.appendDeletionVectors(spark.newSession(), renamed("rs_dv"),
      col("w") === 3L)) == survivors)
    val eq = IceWrite.appendEqualityDeletes(spark, renamed("rs_eq"), Seq(3L).toDF("w"),
      equalityIds = Seq(2))
    assert(Maintenance.convertEqualityDeletes(spark.newSession(), eq) == ((1, 1, 2L)))
    assert(contents(cat.loadTable(TableIdent(Seq("test"), "rs_eq")).get) == survivors)
    val stats = renamed("rs_stats")
    assert(Maintenance.computeStats(spark.newSession(), stats) == 1)
    val counted = cat.loadTable(TableIdent(Seq("test"), "rs_stats")).get
    assert(counted.entries(counted.currentSnapshot(None).get)
      .map(_.dataFile.distinctCounts.get(2)) == Seq(Some(7L)))
  }

  test("rewrite_position_delete_files consolidates masks; reads and eq-delete sequencing unchanged") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import graft.table.ManifestModel.ContentPositionDeletes
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "posrw"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    // two DELETEs → two positional delete files; one equality delete on id=4
    table = IceWrite.appendPositionDeletes(spark, table, col("id") === 1L)
    table = IceWrite.appendPositionDeletes(spark, table, col("id") === 2L)
    table = IceWrite.appendEqualityDeletes(spark, table, Seq(4L).toDF("id"), equalityIds = Seq(1))
    val before = IceScan.scan(spark, table).orderBy("id").collect().toSeq
    assert(before.map(_.getLong(0)) == Seq(3L, 5L, 6L, 7L, 8L, 9L))
    def posEntries = table.entries(table.currentSnapshot(None).get)
      .filter(_.dataFile.content == ContentPositionDeletes)
    val eqSeqBefore = table.entries(table.currentSnapshot(None).get)
      .filter(_.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes)
      .map(_.sequenceNumber)
    assert(posEntries.size == 2)

    val (b, a, dropped) = graft.table.Maintenance.rewritePositionDeleteFiles(spark, table)
    assert((b, a, dropped) == (2, 1, 0L), s"got ($b, $a, $dropped)")
    assert(IceScan.scan(spark, table).orderBy("id").collect().toSeq == before)
    // the equality delete kept its ORIGINAL sequence number: a row appended
    // after it (higher sequence) still survives the mask
    assert(table.entries(table.currentSnapshot(None).get)
      .filter(_.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes)
      .map(_.sequenceNumber) == eqSeqBefore)
    table = IceWrite.append(spark, table, batch1.filter($"id" === 4L))
    assert(IceScan.scan(spark, table).filter($"id" === 4L).count() == 1)
    // idempotent: a second run has one file and nothing dangling → no-op
    val again = graft.table.Maintenance.rewritePositionDeleteFiles(spark, table)
    assert(again == ((1, 1, 0L)))
  }

  test("rewrite_position_delete_files drops masks referencing dead data files") {
    implicit val s: SparkSession = spark
    import graft.table.ManifestModel.{ContentData, ContentPositionDeletes}
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "posdang"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1) // 2 partitions → 2 files
    table = IceWrite.appendPositionDeletes(spark, table, col("id").isin(1L, 4L))
    val snap = table.currentSnapshot(None).get
    val deleteRows = table.entries(snap)
      .filter(_.dataFile.content == ContentPositionDeletes).map(_.dataFile.recordCount).sum
    assert(deleteRows == 2) // ids 1 and 4 live in different files
    // drop the 2020-02-02 data file from the current snapshot (metadata-only
    // rewrite keeping a subset) — its mask row is now dangling
    // day-transform partition values are epoch-day ints
    val d0 = java.time.LocalDate.parse("2020-01-01").toEpochDay.toInt
    val keepData = table.entries(snap).filter(e => e.dataFile.content == ContentData &&
      e.dataFile.partition.exists { case (_, v) => v == d0 })
    assert(keepData.size == 1)
    table = table.newTransaction(None).rewriteManifests(keepData).commit()
    val (b, a, dropped) = graft.table.Maintenance.rewritePositionDeleteFiles(spark, table)
    assert(b == 1 && a == 1 && dropped == 1L, s"got ($b, $a, $dropped)")
    // the surviving mask still hides id=1 in the kept file
    assert(IceScan.scan(spark, table).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 3L))
  }

  test("replace (compaction) rewrites content, results unchanged") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "compact"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    val before = IceScan.scan(spark, table).orderBy("id").collect().toSeq
    table = IceWrite.replaceWith(spark, table, IceScan.scan(spark, table))
    val after = IceScan.scan(spark, table).orderBy("id").collect().toSeq
    assert(before == after)
    assert(table.metadata.snapshots.size == 1) // old snapshots removed
  }

  test("bare replace physically deletes superseded files (T3 reference parity)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "repl_clean"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    val oldSnaps = table.metadata.snapshots.values.toSeq
    val oldLists = oldSnaps.map(_.manifestList)
    val oldMans = oldSnaps.flatMap(sn => table.manifests(sn)).map(_.manifestPath)
    val oldData = oldSnaps.flatMap(sn => table.entries(sn)).map(_.dataFile.filePath)
    assert(oldData.nonEmpty)
    table = IceWrite.replaceWith(spark, table,
      IceScan.scan(spark, table).filter(col("id") <= 7))
    assert(IceScan.scan(spark, table).count() == 7)
    assert(table.metadata.snapshots.size == 1)
    // every superseded data/manifest/list file is physically gone
    (oldData ++ oldMans ++ oldLists).foreach { p =>
      assert(!new java.io.File(p).exists(), s"replace left superseded file $p")
    }
    // the new snapshot's own files are intact (scan above already proved it)
    val newSnap = table.currentSnapshot(None).get
    table.entries(newSnap).foreach(e =>
      assert(new java.io.File(e.dataFile.filePath).exists(), e.dataFile.filePath))
  }

  test("replace cleanup counts and survives an injected delete failure") {
    import graft.table.ManifestModel.DataFile
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "repl_fail"),
      IceSchema(0, Seq(NestedField(1, "id", required = false, IceType.LongT))),
      PartitionSpec(0, Nil))
    // metadata-only append of a file on an unresolvable filesystem scheme:
    // the replace commit itself must succeed, the cleanup's delete of this
    // path must fail, be COUNTED, and not propagate
    val bogus = DataFile(content = 0, filePath = "graftnofs://nowhere/x.parquet",
      fileFormat = "PARQUET", partition = Nil, recordCount = 1L, fileSizeInBytes = 10L)
    table = table.newTransaction().appendData(Seq(bogus)).commit()
    val replacement = DataFile(content = 0,
      filePath = s"${table.location}/data/repl.parquet",
      fileFormat = "PARQUET", partition = Nil, recordCount = 1L, fileSizeInBytes = 10L)
    val before = graft.table.Cleanup.failedDeletes.get()
    table = table.newTransaction().replace(Seq(replacement)).commit() // must not throw
    assert(table.metadata.snapshots.size == 1)
    assert(graft.table.Cleanup.failedDeletes.get() > before,
      "failed post-commit deletion was not counted")
  }

  test("replace keeps snapshots and files a branch ref still reaches") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "repl_branch"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val mainSnap1 = table.currentSnapshot(None).get
    // fork a branch whose lineage includes main's first snapshot
    table = IceWrite.append(spark, table, batch2, branch = Some("dev"))
    val devHead = table.metadata.refs("dev").snapshotId
    val snap1Data = table.entries(mainSnap1).map(_.dataFile.filePath)
    table = IceWrite.replaceWith(spark, table,
      IceScan.scan(spark, table).filter(col("id") === 1))
    // main is replaced; the dev branch and its whole ancestry survive
    assert(IceScan.scan(spark, table).count() == 1)
    assert(table.metadata.refs.contains("dev"))
    assert(table.metadata.refs("dev").snapshotId == devHead)
    assert(table.metadata.snapshots.contains(mainSnap1.snapshotId),
      "branch-reachable snapshot must not be removed by a main replace")
    snap1Data.foreach(p =>
      assert(new java.io.File(p).exists(), s"branch-referenced file deleted: $p"))
  }

  test("schema evolution: add column, old files read as null") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "evolve"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val evolved = IceSchema(0, ordersSchema.fields :+
      NestedField(6, "note", required = false, IceType.StringT))
    table.newTransaction().setSchema(evolved).commit()
    table = cat.loadTable(table.ident).get
    assert(table.schema.fields.map(_.name).contains("note"))
    val df = IceScan.scan(spark, table)
    assert(df.columns.contains("note"))
    assert(df.filter(col("note").isNull).count() == 6)
    // write with the new column
    import s.implicits._
    val b2 = batch2.withColumn("note", lit("x"))
    table = IceWrite.append(spark, table, b2)
    assert(IceScan.scan(spark, table).filter($"note" === "x").count() == 3)
  }

  test("V3 defaults on the programmatic path: initial back-fill, write-default fill, explicit null survives") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "defevolve"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val evolved = IceSchema(0, ordersSchema.fields :+
      NestedField(6, "bonus", required = false, IceType.LongT,
        initialDefault = Some(7L), writeDefault = Some(7L)))
    table.newTransaction().setSchema(evolved).commit()
    table = cat.loadTable(table.ident).get
    // metadata JSON round-trips both defaults
    val f = table.schema.fieldByName("bonus").get
    assert(f.initialDefault == Some(7L) && f.writeDefault == Some(7L))
    // pre-evolution files read the INITIAL default, not null — no rewrite
    assert(IceScan.scan(spark, table).filter(col("bonus") === 7L).count() == 6)
    // an append that OMITS the column fills the WRITE default
    table = IceWrite.append(spark, table, batch2)
    assert(IceScan.scan(spark, table).filter(col("bonus") === 7L).count() == 9)
    // an explicit post-evolution NULL survives (fill is per-file-absence)
    import s.implicits._
    val withNull = batch1.limit(1).select(col("id") + 100 as "id", col("customer_id"),
      col("product_id"), col("date"), col("amount"))
      .withColumn("bonus", lit(null).cast("long"))
    table = IceWrite.append(spark, table, withNull)
    val scanned = IceScan.scan(spark, table)
    assert(scanned.filter(col("bonus").isNull).count() == 1)
    assert(scanned.filter(col("bonus") === 7L).count() == 9)
    // filters on the defaulted column prune correctly against old files
    assert(scanned.filter(col("bonus") === 999L).count() == 0)
  }

  test("V3 row lineage: contiguous ids across commits, stable through compaction, MoR-safe") {
    implicit val s: SparkSession = spark
    import graft.table.ManifestModel.RowIdFieldId
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "lineage"), ordersSchema, daySpec,
      properties = Map("write.row-lineage.enabled" -> "true"))
    table = IceWrite.append(spark, table, batch1) // 6 rows → ids 0-5
    table = IceWrite.append(spark, table, batch2) // 3 rows → ids 6-8
    val lineage = IceScan.ScanOptions(rowLineage = true)
    def idMap(t: graft.table.IceTable) =
      IceScan.scan(spark, t, options = lineage).select(col("id"), col("_row_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = idMap(table)
    assert(pre.size == 9 && pre.values.toSeq.sorted == (0L to 8L), pre)
    // metadata carries the lineage bookkeeping
    assert(table.refresh().metadata.nextRowId == 9L)
    val snaps = table.metadata.snapshots.values.toSeq.sortBy(_.sequenceNumber)
    assert(snaps.map(_.firstRowId) == Seq(Some(0L), Some(6L)), snaps.map(_.firstRowId))

    // compaction MATERIALIZES the lineage columns; every row keeps its id
    table = graft.table.Maintenance.compact(spark, table)
    assert(idMap(table) == pre, "compaction must not move a single row id")
    val entries = table.entries(table.currentSnapshot(None).get)
      .filter(_.dataFile.content == graft.table.ManifestModel.ContentData)
    assert(entries.forall(e => e.dataFile.firstRowId.isEmpty &&
      e.dataFile.valueCounts.contains(RowIdFieldId)),
      "compacted files carry materialized lineage, not assignments")
    // non-lineage scans of the compacted table are unchanged in shape
    assert(!IceScan.scan(spark, table).columns.contains("_row_id"))
    assert(IceScan.scan(spark, table).count() == 9)

    // assignment continues from next-row-id after the materialized rewrite
    import s.implicits._
    table = IceWrite.append(spark, table,
      Seq((100L, 1L, 1L, "2020-03-03", 1)).toDF("id", "customer_id", "product_id", "date", "amount")
        .withColumn("date", to_date(col("date"))))
    val withNew = idMap(table)
    assert(withNew(100L) == 9L, withNew)
    // MoR: a positional delete hides its row; surviving ids unchanged
    table = IceWrite.appendPositionDeletes(spark, table, col("id") === 100L)
    val masked = idMap(table)
    assert(!masked.contains(100L) && masked == pre)
  }

  test("commit conflict: stale transaction is rejected (AssertRefSnapshotId)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "conflict"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val stale = cat.loadTable(table.ident).get
    IceWrite.append(spark, table, batch2) // moves the ref
    // stale handle still thinks parent is snapshot 1; a commit carrying
    // NON-append changes (here a property update) must NOT auto-retry —
    // read-modify-write semantics belong to the caller
    intercept[CommitConflictException] {
      val files = IceWrite.writeDataFiles(spark, stale, batch2, stale.schema)
      stale.newTransaction().appendData(files)
        .updateProperties(Map("owner" -> "stale")).commit()
    }
    // the SAME stale handle's pure data append retries internally and lands
    val files2 = IceWrite.writeDataFiles(spark, stale, batch2, stale.schema)
    stale.newTransaction().appendData(files2).commit()
    assert(IceScan.scan(spark, cat.loadTable(table.ident).get).count() == 12)
  }

  test("nested types round-trip: struct, array, map columns with MoR deletes") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.functions.{struct => mkStruct, _}
    val cat = freshCatalog()
    val df = spark.range(1, 11).select(
      col("id"),
      mkStruct(col("id").as("a"), (col("id") * 2).cast("string").as("b")).as("meta"),
      array(col("id"), col("id") + 1).as("vals"),
      map(col("id").cast("string"), col("id") * 10).as("kv"))
    val (struct2, _) = graft.spec.IceType.fromSparkAssignIds(df.schema)
    var table = cat.createTable(TableIdent(Seq("test"), "nested"),
      IceSchema(0, struct2.fields), PartitionSpec(0, Nil))
    table = IceWrite.append(spark, table, df)
    val read = IceScan.scan(spark, table).orderBy("id").collect()
    assert(read.length == 10)
    val r3 = read(2)
    assert(r3.getStruct(1).getLong(0) == 3L && r3.getStruct(1).getString(1) == "6")
    assert(r3.getSeq[Long](2) == Seq(3L, 4L))
    assert(r3.getMap[String, Long](3) == Map("3" -> 30L))
    // row-level delete by top-level key masks nested rows too
    import s.implicits._
    table = IceWrite.appendEqualityDeletes(spark, table,
      Seq(1L, 2L).toDF("id"), equalityIds = Seq(1))
    val after = IceScan.scan(spark, table).orderBy("id").collect()
    assert(after.length == 8 && after.head.getLong(0) == 3L)
    // filters on nested fields still work (applied by Spark post-scan;
    // nested stats pruning is not attempted)
    assert(IceScan.scan(spark, table).filter(col("meta.a") > 5).count() == 5)
  }

  test("concurrent appenders all land under real contention (bounded retry)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    val ident = TableIdent(Seq("test"), "race")
    cat.createTable(ident, ordersSchema, PartitionSpec(0, Nil))
    // pre-write each thread's files OUTSIDE the race so the contention is
    // purely on the commit CAS, then fire all commits at once
    val fileSets = (1 to 4).map { i =>
      val t = cat.loadTable(ident).get
      val df = batch1.withColumn("id", col("id") + lit(i * 100L))
      (t, IceWrite.writeDataFiles(spark, t, df, t.schema))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = fileSets.map { case (t, files) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = { t.newTransaction().appendData(files).commit(); () }
        })
      }
      futures.foreach(_.get()) // any unresolved conflict rethrows here
    } finally pool.shutdown()
    assert(IceScan.scan(spark, cat.loadTable(ident).get).count() == 24) // 4 x 6 rows
  }

  test("branch write/read isolation") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "branch"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2, branch = Some("dev"))
    assert(IceScan.scan(spark, table, options = IceScan.ScanOptions(branch = Some("dev"))).count() == 9)
    assert(IceScan.scan(spark, table).count() == 6) // main unaffected
  }

  test("expireSnapshots bounds history and deletes only unreferenced files") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "expire"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    val snap1 = table.currentSnapshot(None).get.snapshotId
    table = IceWrite.append(spark, table, batch2)
    table = IceWrite.append(spark, table, batch1.withColumn("id", col("id") + 100))
    assert(table.metadata.snapshots.size == 3)

    table = graft.table.Maintenance.expireSnapshots(spark, table, keepLast = 1)
    assert(table.metadata.snapshots.size == 1)
    // live content is intact (15 rows across the three appends)
    assert(IceScan.scan(spark, table).count() == 15)
    // time travel to the expired snapshot no longer resolves
    assert(table.snapshotById(snap1).isEmpty)
    // current data files still on disk
    val snap = table.currentSnapshot(None).get
    table.entries(snap).foreach { e =>
      assert(new java.io.File(e.dataFile.filePath).exists(), e.dataFile.filePath)
    }
  }

  test("compact rewrites to a smaller file set and removes old files") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "compact"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    val before = table.dataFiles(table.currentSnapshot(None).get)
    val beforePaths = before.map(_.dataFile.filePath)
    table = graft.table.Maintenance.compact(spark, table)
    val after = table.dataFiles(table.currentSnapshot(None).get)
    assert(after.size <= before.size)
    assert(IceScan.scan(spark, table).count() == 9)
    // every pre-compaction file not reused is physically gone
    val afterPaths = after.map(_.dataFile.filePath).toSet
    beforePaths.filterNot(afterPaths).foreach { p =>
      assert(!new java.io.File(p).exists(), p)
    }
  }

  test("IcebergBucket codegen expression matches the row-level transform") {
    import spark.implicits._
    val df = Seq(
      (34, 34L, "iceberg", "2020-02-02", "2020-02-02T12:34:56"),
      (0, 0L, "", "1970-01-01", "1970-01-01T00:00:00"),
      (-7, -7L, "ablation", "1999-12-31", "2038-01-19T03:14:07"))
      .toDF("i", "l", "s", "d_s", "ts_s")
      .withColumn("d", to_date(col("d_s")))
      .withColumn("ts", to_timestamp(col("ts_s")).cast("timestamp_ntz"))
    val b = Transform.Bucket(16)
    val got = df.select(
      b.column(col("i"), org.apache.spark.sql.types.IntegerType).as("bi"),
      b.column(col("l"), org.apache.spark.sql.types.LongType).as("bl"),
      b.column(col("s"), org.apache.spark.sql.types.StringType).as("bs"),
      b.column(col("d"), org.apache.spark.sql.types.DateType).as("bd"),
      b.column(col("ts"), org.apache.spark.sql.types.TimestampNTZType).as("bts"),
      col("i"), col("l"), col("s"), col("d"), col("ts")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == b(r.getInt(5)))
      assert(r.getInt(1) == b(r.getLong(6)))
      assert(r.getInt(2) == b(r.getString(7)))
      assert(r.getInt(3) == b(r.getDate(8).toLocalDate.toEpochDay.toInt))
      val micros = r.getAs[java.time.LocalDateTime](9)
        .toInstant(java.time.ZoneOffset.UTC)
      assert(r.getInt(4) == b(micros.getEpochSecond * 1000000L + micros.getNano / 1000L))
    }
  }

  test("metadata JSON round-trips") {
    val cat = freshCatalog()
    val ident = TableIdent(Seq("test"), "json")
    val t = cat.createTable(ident, ordersSchema, daySpec)
    val json = TableMetadataJson.toJson(t.metadata)
    val back = TableMetadataJson.fromJson(json)
    assert(back == t.metadata)
    assert(json.contains("\"format-version\" : 2"))
    assert(json.contains("\"transform\" : \"day\""))
  }

  test("distinct_counts populate at write behind the table property and round-trip") {
    import spark.implicits._
    val cat = freshCatalog()
    val schema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "grp", required = false, IceType.StringT)))
    var t = cat.createTable(TableIdent(Seq("test"), "ndv"), schema, PartitionSpec(0, Nil),
      Map("write.metadata.distinct-counts.enabled" -> "true"))
    // 100 rows, 100 distinct keys, 4 distinct groups
    t = IceWrite.append(spark, t,
      (1L to 100L).map(i => (i, s"g${i % 4}")).toDF("k", "grp"))
    val entries = t.entries(t.currentSnapshot(None).get)
    assert(entries.nonEmpty)
    val dc = entries.map(_.dataFile.distinctCounts).reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    }
    assert(dc.nonEmpty, "distinct_counts not populated")
    // approx_count_distinct is an HLL sketch (default 5% rsd) — assert the
    // estimates land near the true NDVs (k: 100 unique, grp: 4 per file)
    assert(dc(1) >= 90L && dc(1) <= 110L, s"key NDV: $dc")
    assert(dc(2) >= 4L && dc(2) <= 5L * entries.size, s"group NDV: $dc")
    // manifest round-trip: reload from catalog, counts survive Avro serde
    val reloaded = cat.loadTable(TableIdent(Seq("test"), "ndv")).get
    val back = reloaded.entries(reloaded.currentSnapshot(None).get)
      .map(_.dataFile.distinctCounts).reduce((a, b) => a ++ b)
    assert(back.nonEmpty && back(1) > 0)
    // default-off: a table WITHOUT the property writes empty counts
    var t2 = cat.createTable(TableIdent(Seq("test"), "nondv"), schema, PartitionSpec(0, Nil))
    t2 = IceWrite.append(spark, t2, Seq((1L, "a")).toDF("k", "grp"))
    assert(t2.entries(t2.currentSnapshot(None).get).forall(_.dataFile.distinctCounts.isEmpty))
  }

  test("expireSnapshots honors max-ref-age and min-snapshots-to-keep") {
    import spark.implicits._
    val cat = freshCatalog()
    val schema = IceSchema(0, Seq(NestedField(1, "x", required = false, IceType.LongT)))
    var t = cat.createTable(TableIdent(Seq("test"), "ret"), schema, PartitionSpec(0, Nil))
    t = IceWrite.append(spark, t, Seq(1L).toDF("x"))
    val snap1 = t.currentSnapshot(None).get
    t = IceWrite.append(spark, t.refresh(), Seq(2L).toDF("x"))
    val snap2 = t.currentSnapshot(None).get
    t = IceWrite.append(spark, t.refresh(), Seq(3L).toDF("x"))
    val snap3 = t.currentSnapshot(None).get
    // tag snap1 with a 1-hour max age; branch-style ref on snap3 protecting
    // 2 ancestors (snap3 + parent snap2)
    t = t.newTransaction(None).setRef("old-tag", snap1.snapshotId,
      maxRefAgeMs = Some(3600 * 1000L)).commit()
    t = t.newTransaction(None).setRef("keeper", snap3.snapshotId,
      minSnapshotsToKeep = Some(2)).commit()

    // now = commit time + 10s: tag still young → its snapshot survives
    // keepLast = 1, but min-snapshots-to-keep protects snap2 as well
    t = graft.table.Maintenance.expireSnapshots(spark, t.refresh(), keepLast = 1,
      nowMs = snap3.timestampMs + 10000L)
    assert(t.metadata.refs.contains("old-tag"))
    assert(t.metadata.snapshots.keySet ==
      Set(snap1.snapshotId, snap2.snapshotId, snap3.snapshotId))

    // now = +2 hours: the tag ages out, taking snap1's protection with it;
    // snap2 stays (branch retention), snap3 stays (current + keepLast)
    t = graft.table.Maintenance.expireSnapshots(spark, t.refresh(), keepLast = 1,
      nowMs = snap3.timestampMs + 2 * 3600 * 1000L)
    assert(!t.metadata.refs.contains("old-tag"))
    assert(t.metadata.snapshots.keySet == Set(snap2.snapshotId, snap3.snapshotId))
    // data reachable from the survivors is intact
    assert(IceScan.scan(spark, t).orderBy("x").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("cold scan planning reads manifests concurrently on the bounded pool, in order") {
    import graft.table.ManifestModel._
    import graft.table.ManifestIO
    // 200 synthetic single-entry manifests — a thousand-file table's planning
    // shape without paying 200 commits.
    val dir = Files.createTempDirectory("graft-manifests").toString
    val n = 200
    val paths = (0 until n).map { i =>
      val p = s"$dir/m$i.avro"
      val entry = ManifestEntry(
        status = 1, snapshotId = Some(7L), sequenceNumber = Some(i.toLong),
        fileSequenceNumber = Some(i.toLong),
        dataFile = DataFile(
          content = 0, filePath = s"$dir/data-$i.parquet", fileFormat = "PARQUET",
          partition = Seq("date_day" -> java.lang.Integer.valueOf(18000 + i)),
          recordCount = 10L, fileSizeInBytes = 100L))
      ManifestIO.writeManifest(p, daySpec, ordersSchema, Seq(entry))
      p
    }

    ManifestIO.clearCachesForTesting()
    ManifestIO.resetReadInstrumentation()
    val cold = ManifestIO.readManifests(paths)
    // every manifest physically read exactly once, fanned across >1 pool thread
    assert(ManifestIO.uncachedManifestReads == n.toLong)
    assert(ManifestIO.uncachedManifestReadThreads.size > 1,
      s"expected concurrent reads, got threads=${ManifestIO.uncachedManifestReadThreads}")
    assert(ManifestIO.uncachedManifestReadThreads.forall(_.startsWith("graft-manifest-io")))
    // deterministic: results in input order, identical to warm (cached) reads
    assert(cold.flatten.map(_.dataFile.filePath) == (0 until n).map(i => s"$dir/data-$i.parquet"))
    val warm = ManifestIO.readManifests(paths)
    assert(warm == cold)
    assert(ManifestIO.uncachedManifestReads == n.toLong) // no re-reads when warm
  }

  test("multi-manifest table.entries is identical cold vs warm (parallel read determinism)") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "par"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.append(spark, table, batch2)
    val snap = table.currentSnapshot(None).get
    // compare a canonical projection (Array[Byte] bounds are reference-equal only)
    def key(es: Seq[graft.table.ManifestModel.ManifestEntry]) =
      es.map(e => (e.status, e.snapshotId, e.sequenceNumber, e.dataFile.filePath,
        e.dataFile.recordCount,
        e.dataFile.lowerBounds.view.mapValues(_.toSeq).toMap,
        e.dataFile.upperBounds.view.mapValues(_.toSeq).toMap))
    val warm = key(table.entries(snap))
    graft.table.ManifestIO.clearCachesForTesting()
    val cold = key(table.entries(snap))
    assert(cold == warm)
    assert(cold.nonEmpty)
  }

  private val tagSchema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "tag", required = false, IceType.StringT)))
  private val tagSpec = PartitionSpec(0, Seq(PartitionField(2, 1000, "tag", Transform.Identity)))

  test("string identity-partition values with path characters round-trip and prune") {
    import spark.implicits._
    Seq("C++", "a b", "x%y", "p/q", "k=v").zipWithIndex.foreach { case (v, i) =>
      var t = freshCatalog().createTable(TableIdent(Seq("test"), s"tag$i"), tagSchema, tagSpec)
      t = IceWrite.append(spark, t, Seq((1L, v)).toDF("id", "tag"))
      assert(t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.partition) == Seq(Seq("tag" -> v)),
        s"manifest partition value of '$v'")
      assert(IceScan.scan(spark, t, Seq(col("tag") === v)).count() == 1L, s"pruned scan of '$v'")
      assert(IceScan.scan(spark, t).count() == 1L)
    }
  }

  test("add_files reads Spark-escaped partition dirs back to their values (tag=C++)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val ext = Files.createTempDirectory("graft-ext").toString
    val values = Seq("C++", "x%y")
    values.zipWithIndex.foreach { case (v, i) =>
      // the dir name Spark's partitioned writer gives the value ("C++" stays as is)
      Seq((i.toLong, v)).toDF("id", "tag").write
        .parquet(s"$ext/${ExternalCatalogUtils.getPartitionPathString("tag", v)}")
    }
    assert(new java.io.File(s"$ext/tag=C++").isDirectory)
    val t0 = freshCatalog().createTable(TableIdent(Seq("test"), "imported_tags"), tagSchema, tagSpec)
    val (t, files) = IceWrite.addFiles(spark, t0, ext)
    assert(files.map(_.partition).toSet == values.map(v => Seq("tag" -> v)).toSet)
    values.foreach(v =>
      assert(IceScan.scan(spark, t, Seq(col("tag") === v)).count() == 1L, s"pruned scan of '$v'"))
  }

  test("a table location with a space: append, the three delete kinds and add_files") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("graft wh").toString)
    val byProduct = PartitionSpec(0, Seq(PartitionField(3, 1000, "product_id", Transform.Identity)))
    var t = cat.createTable(TableIdent(Seq("test"), "spaced"), ordersSchema, byProduct)
    assert(t.location.contains(" "))
    def ids: Seq[Long] = IceScan.scan(spark, t).select("id").as[Long].collect().toSeq.sorted
    t = IceWrite.append(spark, t, batch1)
    t = IceWrite.append(spark, t, batch2)
    assert(ids == (1L to 9L))
    t = IceWrite.appendEqualityDeletes(spark, t, Seq(Tuple1(2L)).toDF("id"), Seq(1))
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    t = IceWrite.appendPositionDeletes(spark, t, col("id") === 5L)
    assert(ids == Seq(1L, 3L, 4L, 6L, 7L, 8L, 9L))
    t = IceWrite.appendDeletionVectors(spark, t, col("id") === 8L)
    assert(ids == Seq(1L, 3L, 4L, 6L, 7L, 9L))
    assert(IceScan.scan(spark, t, Seq(col("product_id") === 1L)).select("id").as[Long]
      .collect().toSeq.sorted == Seq(1L, 3L))
    val ext = Files.createTempDirectory("graft ext").toString
    Seq((10L, 1L, 4L, "2020-03-03", 5)).toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date($"date")).write.parquet(s"$ext/product_id=4")
    t = IceWrite.addFiles(spark, t, ext)._1
    assert(ids == Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L))
    assert(IceScan.scan(spark, t, Seq(col("product_id") === 4L)).count() == 1L)
  }

  test("a failed write commits nothing: append and replaceWith throw, snapshot and rows unchanged") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var t = cat.createTable(TableIdent(Seq("test"), "failing"), ordersSchema, daySpec)
    t = IceWrite.append(spark, t, batch1)
    val snap = t.currentSnapshot(None).map(_.snapshotId)
    def rows(x: graft.table.IceTable) =
      IceScan.scan(spark, x).collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val before = rows(t)
    def dataFilesOnDisk: Set[String] = {
      import scala.jdk.CollectionConverters._
      val dataDir = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(t.location).toUri.getPath, "data")
      val walk = Files.walk(dataDir)
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val onDisk = dataFilesOnDisk
    val bad = batch2.withColumn("amount",
      when(col("id") === 8L, raise_error(lit("boom"))).otherwise(col("amount")))
    def assertFailsWithBoom(write: => Any): Unit = {
      val err = intercept[Exception](write)
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage))
      assert(messages.exists(_.contains("boom")), err.toString)
      val now = t.refresh()
      assert(now.currentSnapshot(None).map(_.snapshotId) == snap)
      assert(rows(now) == before)
      assert(dataFilesOnDisk == onDisk) // the failed job leaves no file behind
    }
    assertFailsWithBoom(IceWrite.append(spark, t, bad))
    assertFailsWithBoom(IceWrite.replaceWith(spark, t, bad))
  }
}

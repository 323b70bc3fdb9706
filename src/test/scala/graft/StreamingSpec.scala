package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{FileCatalog, TableIdent}
import graft.spark.IceScan
import graft.spec._
import graft.streaming.IceStreaming

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("streaming-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stream → Iceberg table: one ACID commit per micro-batch, resumable") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.DoubleT)))
    val table = cat.createTable(TableIdent(Seq("db"), "ingest"), schema, PartitionSpec(0, Nil))

    val src = Files.createTempDirectory("stsrc").toString
    val ckpt = Files.createTempDirectory("stckpt").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(src)

    val stream = spark.readStream.schema("id LONG, v DOUBLE").parquet(src)
    IceStreaming.writeStreamToTable(stream, table, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    assert(IceScan.scan(spark, table.refresh()).count() == 2)

    // second slice arrives; restarted AvailableNow job picks up ONLY it
    Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(src)
    IceStreaming.writeStreamToTable(
      spark.readStream.schema("id LONG, v DOUBLE").parquet(src), table, ckpt,
      Trigger.AvailableNow()).awaitTermination()
    val t = table.refresh()
    assert(IceScan.scan(spark, t).count() == 3)
    // each micro-batch committed its own snapshot
    assert(t.metadata.snapshots.size >= 2)
  }

  /** Simulates the crash window: the TABLE commit landed but the
    * checkpoint's commit marker for the last batch never got written, so a
    * restarted query REPLAYS that batch (its offsets entry survives). The
    * local filesystem's `.crc` sidecar must go with it or the replayed
    * marker write trips ChecksumFS's rename-collision check. */
  private def deleteLastCommitMarker(ckpt: String): Unit = {
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val last = commitsDir.listFiles().filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(last.delete(), s"could not delete ${last.getPath}")
    val crc = new java.io.File(commitsDir, s".${last.getName}.crc")
    if (crc.exists()) crc.delete()
  }

  test("exactly-once: a crash between table commit and checkpoint commit does not duplicate") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_eo").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.DoubleT)))
    val table = cat.createTable(TableIdent(Seq("db"), "eo"), schema, PartitionSpec(0, Nil))

    val src = Files.createTempDirectory("stsrc_eo").toString
    val ckpt = Files.createTempDirectory("stckpt_eo").toString
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(src)
    IceStreaming.writeStreamToTable(
      spark.readStream.schema("id LONG, v DOUBLE").parquet(src), table, ckpt,
      Trigger.AvailableNow()).awaitTermination()
    assert(IceScan.scan(spark, table.refresh()).count() == 2)

    // simulate the crash window: the TABLE commit landed, but the
    // checkpoint's commit marker for the last batch never got written —
    // deleting commits/<last> makes a restarted query REPLAY that batch
    // (offsets/<last> still exists). This is the exact at-least-once hole.
    deleteLastCommitMarker(ckpt)

    IceStreaming.writeStreamToTable(
      spark.readStream.schema("id LONG, v DOUBLE").parquet(src), table, ckpt,
      Trigger.AvailableNow()).awaitTermination()
    // the replayed batch is skipped: zero duplicate rows
    val afterReplay = IceScan.scan(spark, table.refresh())
    assert(afterReplay.count() == 2, "replayed batch was appended twice")
    assert(afterReplay.groupBy("id").count().filter(col("count") > 1).isEmpty)

    // the ledger does NOT over-suppress: fresh data after the replay ingests
    Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(src)
    IceStreaming.writeStreamToTable(
      spark.readStream.schema("id LONG, v DOUBLE").parquet(src), table, ckpt,
      Trigger.AvailableNow()).awaitTermination()
    assert(IceScan.scan(spark, table.refresh()).orderBy("id").select("id").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("exactly-once: streamDedupIngest skips a replayed batch wholesale") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_eod").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "doc_id", required = false, IceType.LongT),
      NestedField(2, "text", required = false, IceType.StringT)))
    val source = cat.createTable(TableIdent(Seq("db"), "eod_src"), schema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "eod_tgt"), schema, PartitionSpec(0, Nil))
    val ckpt = Files.createTempDirectory("stckpt_eod").toString

    val texts = (1 to 30).map(i => s"tok$i").mkString(" ")
    graft.spark.IceWrite.append(spark, source,
      Seq((1L, texts), (2L, (31 to 60).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text"))
    IceStreaming.streamDedupIngest(spark, source.refresh(), target, "doc_id", "text", ckpt,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(IceScan.scan(spark, target.refresh()).count() == 2)

    deleteLastCommitMarker(ckpt)

    IceStreaming.streamDedupIngest(spark, source.refresh(), target, "doc_id", "text", ckpt,
      trigger = Trigger.AvailableNow()).awaitTermination()
    assert(IceScan.scan(spark, target.refresh()).count() == 2,
      "replayed dedup batch re-appended rows")
  }

  test("streamUpsert applies CDC batches: latest-per-key wins, deletes drop keys, exactly-once") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_ups").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT),
      NestedField(4, "op", required = false, IceType.StringT)))
    val tgtSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT)))
    var source = cat.createTable(TableIdent(Seq("db"), "cdc_src"), srcSchema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "cdc_tgt"), tgtSchema, PartitionSpec(0, Nil))
    val ckpt = Files.createTempDirectory("stckpt_ups").toString

    // batch 1: inserts + an in-batch update (k=2 has two versions: lsn 3 wins)
    // + an in-batch insert-then-delete (k=3 ends deleted)
    source = graft.spark.IceWrite.append(spark, source, Seq(
      (1L, "one", 1L, "I"), (2L, "two-old", 2L, "I"), (2L, "two-new", 3L, "U"),
      (3L, "three", 4L, "I"), (3L, null, 5L, "D")).toDF("k", "v", "lsn", "op"))
    def run(): Unit =
      IceStreaming.streamUpsert(spark, source.refresh(), target, keyIds = Seq(1),
        orderCol = "lsn", checkpoint = ckpt, opCol = Some("op"),
        trigger = Trigger.AvailableNow()).awaitTermination()
    run()
    def state(): Map[Long, (String, Long)] =
      IceScan.scan(spark, target.refresh()).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(state() == Map(1L -> ("one", 1L), 2L -> ("two-new", 3L)), s"got ${state()}")

    // batch 2: update k=1, re-insert k=3, delete k=2
    source = graft.spark.IceWrite.append(spark, source.refresh(), Seq(
      (1L, "one-v2", 6L, "U"), (3L, "three-back", 7L, "I"), (2L, null, 8L, "D"))
      .toDF("k", "v", "lsn", "op"))
    run()
    assert(state() == Map(1L -> ("one-v2", 6L), 3L -> ("three-back", 7L)), s"got ${state()}")

    // exactly-once: a crash between table commit and checkpoint marker
    // replays the batch into a no-op skip
    deleteLastCommitMarker(ckpt)
    run()
    assert(state() == Map(1L -> ("one-v2", 6L), 3L -> ("three-back", 7L)),
      s"replayed upsert batch changed state: ${state()}")
    // the target's delete tree converts/compacts away on demand
    val (eqB, _, _) = graft.table.Maintenance.convertEqualityDeletes(spark, target.refresh())
    assert(eqB > 0, "fixture should have produced equality deletes")
    assert(state() == Map(1L -> ("one-v2", 6L), 3L -> ("three-back", 7L)),
      "conversion must preserve upsert state")

    // a NULL op value is NOT a delete: the row upserts (a non-null-safe
    // filter would delete the key and insert nothing — review finding r15)
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((1L, "one-v3", 9L, null.asInstanceOf[String])).toDF("k", "v", "lsn", "op"))
    run()
    assert(state() == Map(1L -> ("one-v3", 9L), 3L -> ("three-back", 7L)),
      s"NULL-op row must upsert, got ${state()}")
  }

  test("streamUpsert bounds its own MoR read cost: 50 micro-batches end under the plan-width bound") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_maint").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT)))
    var source = cat.createTable(TableIdent(Seq("db"), "mnt_src"), srcSchema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "mnt_tgt"), srcSchema, PartitionSpec(0, Nil))
    val ckpt = Files.createTempDirectory("stckpt_mnt").toString
    // 50 single-file source commits → 50 micro-batches at maxFilesPerTrigger=1;
    // each upserts 4 keys (rolling over 20 keys) at increasing lsn
    for (b <- 0 until 50) {
      source = graft.spark.IceWrite.append(spark, source.refresh(),
        (0 until 4).map(i => ((b * 4 + i) % 20L, s"v$b-$i", b * 4L + i)).toDF("k", "v", "lsn"))
    }
    val threshold = 10
    val walked0 = IceStreaming.ledgerSnapshotsInspected.get()
    IceStreaming.streamUpsert(spark, source.refresh(), target, keyIds = Seq(1),
      orderCol = "lsn", checkpoint = ckpt, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1, maintainAfterDeleteFiles = threshold)
      .awaitTermination()
    // the per-batch ledger reads (exactly-once batch-id check + order
    // watermark) stop at the FIRST stamped ancestor, so the walk stays
    // O(1) per batch — a full-lineage walk would inspect ~N/2 snapshots
    // per batch (~2,500 total here) and grow without bound under a week of
    // 1-minute batches (VERDICT r16 #4)
    val walked = IceStreaming.ledgerSnapshotsInspected.get() - walked0
    assert(walked <= 50L * 12,
      s"ledger walks must stay flat per batch: inspected $walked snapshots over 50 batches")
    val t = target.refresh()
    // the threshold-triggered conversion kept live eq-delete files bounded
    val eqLive = t.deleteFiles(t.currentSnapshot(None).get)
      .count(_.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes)
    assert(eqLive < threshold, s"live eq-delete files must stay under $threshold, got $eqLive")
    // ... and the scan plan folds at most (eq sequence points + 1 pos mask)
    // anti-joins instead of one per micro-batch
    val scanned = IceScan.scan(spark, t)
    val plan = scanned.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val antiJoins = plan.split('\n').count(_.contains("LeftAnti"))
    assert(antiJoins <= threshold + 1,
      s"50 micro-batches must not leave 50 anti-joins (got $antiJoins):\n$plan")
    // correctness after all the maintenance: latest generation per key
    val state = scanned.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = (0 until 200).map(i => (i % 20L, i.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(state == expected, s"got $state")
  }

  test("streamUpsert on a puffin-opted table folds delete residue into deletion vectors") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_dv").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT)))
    var source = cat.createTable(TableIdent(Seq("db"), "dv_src"), srcSchema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "dv_tgt"), srcSchema, PartitionSpec(0, Nil),
      properties = Map("write.delete.format" -> "puffin"))
    val ckpt = Files.createTempDirectory("stckpt_dv").toString
    for (b <- 0 until 20) {
      source = graft.spark.IceWrite.append(spark, source.refresh(),
        (0 until 4).map(i => ((b * 4 + i) % 10L, s"v$b-$i", b * 4L + i)).toDF("k", "v", "lsn"))
    }
    IceStreaming.streamUpsert(spark, source.refresh(), target, keyIds = Seq(1),
      orderCol = "lsn", checkpoint = ckpt, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 1, maintainAfterDeleteFiles = 6)
      .awaitTermination()
    val t = target.refresh()
    val dels = t.deleteFiles(t.currentSnapshot(None).get)
    import graft.table.ManifestModel.{ContentPositionDeletes, FormatPuffin}
    val parquetPos = dels.filter(e => e.dataFile.content == ContentPositionDeletes &&
      e.dataFile.fileFormat != FormatPuffin)
    val dvs = dels.filter(e => e.dataFile.content == ContentPositionDeletes &&
      e.dataFile.fileFormat == FormatPuffin)
    assert(parquetPos.isEmpty,
      s"puffin-opted maintenance must leave no parquet positional files, got ${parquetPos.size}")
    assert(dvs.nonEmpty, "threshold maintenance should have produced deletion vectors")
    assert(dvs.groupBy(_.dataFile.referencedDataFile).values.forall(_.size == 1))
    // positional layer rides the bitmap FILTER, not an anti-join per residue
    val scanned = IceScan.scan(spark, t)
    assert(scanned.queryExecution.executedPlan.toString.toLowerCase.contains("dvdeleted"))
    // correctness: latest generation per key
    val state = scanned.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = (0 until 80).map(i => (i % 10L, i.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(state == expected, s"got $state")
  }

  test("streamUpsert order guard: a batch below the committed watermark fails before commit") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_wm").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT)))
    var source = cat.createTable(TableIdent(Seq("db"), "wm_src"), srcSchema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "wm_tgt"), srcSchema, PartitionSpec(0, Nil))
    val ckpt = Files.createTempDirectory("stckpt_wm").toString
    def run(guard: String = "fail"): Unit =
      IceStreaming.streamUpsert(spark, source.refresh(), target, keyIds = Seq(1),
        orderCol = "lsn", checkpoint = ckpt, trigger = Trigger.AvailableNow(),
        orderGuard = guard).awaitTermination()
    def state(): Map[Long, (String, Long)] =
      IceScan.scan(spark, target.refresh()).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    source = graft.spark.IceWrite.append(spark, source,
      Seq((1L, "one", 10L), (2L, "two", 12L)).toDF("k", "v", "lsn"))
    run()
    assert(state() == Map(1L -> ("one", 10L), 2L -> ("two", 12L)))
    // the commit carries the stream's watermark (max applied lsn)
    assert(IceStreaming.lastOrderWatermark(target.refresh(), ckpt).contains("12"))

    // a batch whose applied rows dip BELOW the watermark must fail before
    // commit: the stale lsn=5 row would reinstate an old generation
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((2L, "two-stale", 5L)).toDF("k", "v", "lsn"))
    val ex = intercept[Exception] { run() }
    def messages(tr: Throwable): Seq[String] =
      if (tr == null) Nil else Option(tr.getMessage).toSeq ++ messages(tr.getCause)
    assert(messages(ex).exists(_.contains("order-contract violation")), s"got $ex")
    assert(state() == Map(1L -> ("one", 10L), 2L -> ("two", 12L)),
      s"violating batch must not commit: ${state()}")

    // warn mode applies the batch (caller's explicit choice) and moves on
    run(guard = "warn")
    assert(state() == Map(1L -> ("one", 10L), 2L -> ("two-stale", 5L)),
      s"warn mode must apply the batch: ${state()}")
    // the watermark NEVER regresses: the warn batch (max lsn 5) must stamp
    // the RUNNING max 12, so a later fail-mode batch below 12 still trips
    // the guard (review finding r16 — batch-max stamping let a warn batch
    // permanently disarm the guard)
    assert(IceStreaming.lastOrderWatermark(target.refresh(), ckpt).contains("12"),
      s"warn batch must not regress the watermark: " +
        s"${IceStreaming.lastOrderWatermark(target.refresh(), ckpt)}")
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((1L, "one-stale", 8L)).toDF("k", "v", "lsn"))
    intercept[Exception] { run() }
    assert(state()(1L) == (("one", 10L)), s"guard must still be armed: ${state()}")
    // ... while an in-order batch at lsn >= 12 passes
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((1L, "one-v2", 13L)).toDF("k", "v", "lsn"))
    run(guard = "warn") // the stale lsn=8 batch replays first: warn through it
    assert(state()(1L) == (("one-v2", 13L)), s"got ${state()}")

    // NULL orderCol rows are orderless malformed CDC input: fail mode
    // rejects the batch before commit (review finding r16)
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((4L, "four", None: Option[Long])).toDF("k", "v", "lsn"))
    val exn = intercept[Exception] { run() }
    assert(messages(exn).exists(_.contains("NULL lsn")), s"got $exn")
    assert(!state().contains(4L), s"NULL-order batch must not commit: ${state()}")
  }

  test("durable ledger: exactly-once and the order guard survive snapshot expiration") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh_exp").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT),
      NestedField(3, "lsn", required = false, IceType.LongT)))
    var source = cat.createTable(TableIdent(Seq("db"), "exp_src"), srcSchema, PartitionSpec(0, Nil))
    val target = cat.createTable(TableIdent(Seq("db"), "exp_tgt"), srcSchema, PartitionSpec(0, Nil))
    val ckpt = Files.createTempDirectory("stckpt_exp").toString
    // 6 single-file source commits → 6 micro-batches, rolling over 3 keys
    for (b <- 0 until 6) {
      source = graft.spark.IceWrite.append(spark, source.refresh(),
        Seq((b % 3L, s"v$b", b.toLong)).toDF("k", "v", "lsn"))
    }
    def run(): Unit =
      IceStreaming.streamUpsert(spark, source.refresh(), target, keyIds = Seq(1),
        orderCol = "lsn", checkpoint = ckpt, trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = 1, maintainAfterDeleteFiles = 0).awaitTermination()
    run()
    def state(): Map[Long, (String, Long)] =
      IceScan.scan(spark, target.refresh()).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val before = state()
    assert(before == Map(0L -> ("v3", 3L), 1L -> ("v4", 4L), 2L -> ("v5", 5L)), s"got $before")

    // bury the stream's summary stamps under foreign metadata-only commits,
    // then expire: every stream-stamped snapshot dies. THIS is the r17 #1
    // scenario — an idle stream + routine maintenance + a checkpoint-
    // restored replay must not duplicate rows.
    graft.table.Maintenance.convertEqualityDeletes(spark, target.refresh())
    graft.table.Maintenance.rewriteManifests(target.refresh())
    val t = graft.table.Maintenance.expireSnapshots(spark, target.refresh(), keepLast = 2)
    assert(!t.metadata.snapshots.values.exists(_.summary.contains(IceStreaming.StreamIdKey)),
      "fixture must expire every summary-stamped snapshot for the test to bite")
    // the DURABLE ledger (table properties, written in the same commit as
    // each batch) survives where the summary stamps did not
    assert(IceStreaming.lastCommittedBatch(t, ckpt).contains(5L),
      s"batch ledger lost to expiration: ${IceStreaming.lastCommittedBatch(t, ckpt)}")
    assert(IceStreaming.lastOrderWatermark(t, ckpt).contains("5"),
      s"order watermark lost to expiration: ${IceStreaming.lastOrderWatermark(t, ckpt)}")

    // a checkpoint-restored replay of the last batch is still a no-op skip
    deleteLastCommitMarker(ckpt)
    run()
    assert(state() == before, s"replay after expiration duplicated a batch: ${state()}")

    // ... and the stale-generation guard is still armed: a change row below
    // the (property-preserved) watermark fails before any file is staged
    source = graft.spark.IceWrite.append(spark, source.refresh(),
      Seq((2L, "stale", 1L)).toDF("k", "v", "lsn"))
    val ex = intercept[Exception] { run() }
    def messages(tr: Throwable): Seq[String] =
      if (tr == null) Nil else Option(tr.getMessage).toSeq ++ messages(tr.getCause)
    assert(messages(ex).exists(_.contains("order-contract violation")), s"got $ex")
    assert(state() == before, s"stale batch must not commit after expiration: ${state()}")
  }

  test("tail an append-only Iceberg table as a stream") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh2").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.DoubleT)))
    var table = cat.createTable(TableIdent(Seq("db"), "tail"), schema, PartitionSpec(0, Nil))
    table = graft.spark.IceWrite.append(spark, table, Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v"))

    val q = IceStreaming.streamTable(spark, table)
      .writeStream.format("memory").queryName("tailed")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT count(*) FROM tailed").head().getLong(0) == 2)
  }

  test("rate-limited tail drains a backlog across bounded micro-batches") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh4").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT)))
    var table = cat.createTable(TableIdent(Seq("db"), "rated"), schema, PartitionSpec(0, Nil))
    // three separate commits → three data files of backlog
    (1 to 3).foreach { i =>
      table = graft.spark.IceWrite.append(spark, table, Seq(i.toLong).toDF("id"))
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = IceStreaming.streamTable(spark, table, maxFilesPerTrigger = 1)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }: Unit
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batchSizes.sum == 3, s"all rows must arrive: $batchSizes")
    assert(batchSizes.count(_ > 0) == 3 && batchSizes.forall(_ <= 1),
      s"1-file cap must split the backlog into singleton batches: $batchSizes")
  }

  test("streamSketch folds micro-batch sketches into a standing cell table exactly-once") {
    import spark.implicits._
    import graft.pipeline.Profile
    val cat = new FileCatalog(Files.createTempDirectory("skwh").toString)
    val srcSchema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "word", required = false, IceType.StringT)))
    var source = cat.createTable(TableIdent(Seq("db"), "words"), srcSchema, PartitionSpec(0, Nil))
    val skSchema = IceSchema(0, Seq(
      NestedField(1, "r", required = false, IceType.IntT),
      NestedField(2, "bkt", required = false, IceType.LongT),
      NestedField(3, "c", required = false, IceType.LongT)))
    val sketch = cat.createTable(TableIdent(Seq("db"), "sketch"), skSchema, PartitionSpec(0, Nil))

    val rows = (1 to 60).map(i => (i.toLong, s"w${i % 7}"))
    // three commits → three backlog files → 1-file cap forces 3 micro-batches
    rows.grouped(20).foreach { g =>
      source = graft.spark.IceWrite.append(spark, source, g.toDF("id", "word"))
    }
    val ckpt = Files.createTempDirectory("skckpt").toString
    IceStreaming.streamSketch(spark, source, sketch, "word", ckpt,
      depth = 4, width = 64, maxFilesPerTrigger = 1).awaitTermination()

    val standing = IceScan.scan(spark, sketch.refresh())
      .select("r", "bkt", "c").collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Profile.cmsSketch(rows.toDF("id", "word"), "word", 4, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(standing == whole,
      s"standing sketch must equal the whole-data sketch: $standing vs $whole")
    // three micro-batches ran (ids 0..2); each replace supersedes the
    // previous snapshot, so the LATEST snapshot alone carries the ledger —
    // sufficient for exactly-once because batch ids are monotonic
    assert(IceStreaming.lastCommittedBatch(sketch.refresh(), ckpt).contains(2L))

    // exactly-once: the crash window (table commit landed, checkpoint
    // marker lost) replays the final batch — the cells must not double
    deleteLastCommitMarker(ckpt)
    IceStreaming.streamSketch(spark, source, sketch.refresh(), "word", ckpt,
      depth = 4, width = 64, maxFilesPerTrigger = 1).awaitTermination()
    val after = IceScan.scan(spark, sketch.refresh())
      .select("r", "bkt", "c").collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after == whole, "a replayed batch must not double-count cells")

    // the standing table is estimate-ready: one-sided error per value
    val est = Profile.cmsEstimate(IceScan.scan(spark, sketch.refresh()),
        rows.toDF("id", "word"), "word", 4, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    exact.foreach { case (w, n) =>
      assert(est(w) >= n, s"CMS estimate for $w underestimated: ${est(w)} < $n")
    }
  }

  test("streamDedupIngest appends only novel docs; the index grows mid-stream") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("ddwh").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "doc_id", required = false, IceType.LongT),
      NestedField(2, "text", required = false, IceType.StringT)))
    val src = cat.createTable(TableIdent(Seq("db"), "ddsrc"), schema, PartitionSpec(0, Nil))
    val tgt = cat.createTable(TableIdent(Seq("db"), "ddtgt"), schema, PartitionSpec(0, Nil))
    val a = "the quick brown fox jumps over the lazy dog while the owl watches from a tall oak tree nearby"
    val b = "completely different content about spark iceberg tables and the commit protocol they share today"
    graft.spark.IceWrite.append(spark, tgt, Seq((1L, a), (2L, b)).toDF("doc_id", "text"))
    // batch wave 1: a near-dup of corpus doc A (one appended word), an exact
    // in-batch duplicate pair of novel doc C
    val c = "novel words entirely unrelated to anything stored so far with plenty of fresh tokens to shingle upon"
    graft.spark.IceWrite.append(spark, src.refresh(),
      Seq((10L, a + " indeed"), (11L, c), (12L, c)).toDF("doc_id", "text"))
    Thread.sleep(1200) // distinct file mtimes: wave 2 must stream AFTER wave 1
    // batch wave 2: a near-dup of C — accepted mid-stream, so this probes
    // the EXTENDED index — plus a genuinely novel doc D
    val d = "and finally one last document carrying its own vocabulary so nothing here resembles the others at all"
    graft.spark.IceWrite.append(spark, src.refresh(),
      Seq((20L, c + " truly"), (21L, d)).toDF("doc_id", "text"))
    val ckpt = Files.createTempDirectory("ddckpt").toString
    IceStreaming.streamDedupIngest(spark, src.refresh(), tgt, "doc_id", "text",
      ckpt, maxFilesPerTrigger = 1).awaitTermination()
    val texts = IceScan.scan(spark, tgt.refresh())
      .select("text").as[String].collect().sorted.toSeq
    assert(texts == Seq(a, b, c, d).sorted, texts.mkString("\n"))
  }

  test("tail a PARTITIONED table: source columns stream back complete") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh3").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "bucket_key", required = false, IceType.LongT),
      NestedField(3, "v", required = false, IceType.DoubleT)))
    // identity partition: the partition dir uses the reserved __gp_ prefix,
    // so bucket_key itself stays inside the data files and streams back
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "bucket_key", graft.core.Transform.Identity)))
    var table = cat.createTable(TableIdent(Seq("db"), "ptail"), schema, spec)
    table = graft.spark.IceWrite.append(spark, table,
      Seq((1L, 10L, 5.0), (2L, 20L, 6.0), (3L, 10L, 7.0)).toDF("id", "bucket_key", "v"))

    val q = IceStreaming.streamTable(spark, table)
      .writeStream.format("memory").queryName("ptailed")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql("SELECT id, bucket_key, v FROM ptailed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, 10L, 5.0), (2L, 20L, 6.0), (3L, 10L, 7.0)))
  }

  test("streamRefresh keeps a materialized view incrementally fresh") {
    import spark.implicits._
    val cat = new FileCatalog(Files.createTempDirectory("stwh4").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.StringT),
      NestedField(2, "v", required = false, IceType.LongT)))
    var src = cat.createTable(TableIdent(Seq("db"), "sales"), schema, PartitionSpec(0, Nil))
    src = graft.spark.IceWrite.append(spark, src, Seq(("a", 1L), ("b", 10L)).toDF("k", "v"))
    val mv = TableIdent(Seq("db"), "sales_by_k")
    graft.spark.IceMV.create(spark, cat, mv,
      "SELECT k, count(*) AS n, sum(v) AS s FROM sales GROUP BY k")
    val ckpt = Files.createTempDirectory("stck4").toString
    graft.streaming.IceStreaming.streamRefresh(spark, cat, mv, src, ckpt).awaitTermination()
    assert(graft.spark.IceMV.read(spark, cat, mv).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap == Map("a" -> 1L, "b" -> 10L))
    // more data arrives; the next micro-batch triggers an INCREMENTAL merge
    src = graft.spark.IceWrite.append(spark, src.refresh(), Seq(("a", 2L), ("c", 7L)).toDF("k", "v"))
    graft.streaming.IceStreaming.streamRefresh(spark, cat, mv, src, ckpt).awaitTermination()
    assert(graft.spark.IceMV.read(spark, cat, mv).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap == Map("a" -> 3L, "b" -> 10L, "c" -> 7L))
  }

  test("sizedSession fails naming a missing or directory source instead of sizing it at width 1") {
    val dir = Files.createTempDirectory("sized").toString
    for (path <- Seq(s"$dir/events.parquet", dir)) {
      val err = intercept[IllegalArgumentException](IceStreaming.sizedSession(spark, path))
      assert(err.getMessage.contains(path), err.getMessage)
    }
    val tiny = Files.write(java.nio.file.Paths.get(dir, "src.bin"), Array[Byte](1, 2, 3))
    assert(IceStreaming.sizedSession(spark, tiny.toString)
      .conf.get("spark.sql.shuffle.partitions") == "1")
  }

  test("watermarked windowed aggregation matches batch computation") {
    import spark.implicits._
    val src = Files.createTempDirectory("wmsrc").toString
    val rows = Seq(
      ("2024-01-01 00:05:00", "a", 1.0), ("2024-01-01 00:20:00", "a", 2.0),
      ("2024-01-01 00:40:00", "b", 3.0), ("2024-01-01 01:10:00", "a", 4.0))
    rows.toDF("ts_s", "k", "v").withColumn("ts", to_timestamp(col("ts_s")))
      .select("ts", "k", "v").write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema("ts TIMESTAMP, k STRING, v DOUBLE").parquet(src)
    val q = IceStreaming.windowedAgg(stream, "ts", "k", "v", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("wagg").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // AvailableNow + append mode emits only FINALIZED windows; batch
    // equivalence on the finalized subset
    val got = spark.sql("SELECT window_start, k, n, sum_value FROM wagg")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val expect = spark.read.parquet(src)
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"))
      .select(col("window.start"), col("k"), col("n"), col("sum_value"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.subsetOf(expect) && got.nonEmpty)
  }

  test("gap sessionization closes sessions and aggregates state") {
    import spark.implicits._
    val src = Files.createTempDirectory("sesssrc").toString
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: events at 0,1,2 then 60 → two sessions; user 2: single event
    Seq(
      IceStreaming.Event(1L, ts(0), 1.0), IceStreaming.Event(1L, ts(1), 2.0),
      IceStreaming.Event(1L, ts(2), 3.0), IceStreaming.Event(1L, ts(60), 4.0),
      IceStreaming.Event(2L, ts(5), 9.0))
      .toDF().write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .parquet(src).as[IceStreaming.Event]
    // NoTimeout: a registered processing-time timeout keeps the query alive
    // waiting for its deadline; here only data-closed sessions should emit
    val q = IceStreaming.sessionize(stream, gapMs = 10 * 60000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // only user 1's FIRST session is closed by arriving data (the second,
    // and user 2's, stay open awaiting timeout)
    val got = spark.sql("SELECT user_id, n_events, total_value FROM sessions")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 3, 6.0)))
  }

  test("zero-shuffle pipeline kernels run unchanged over a stream") {
    // the URL canonicalization and BPE token-id kernels are stateless
    // projections, so the SAME operators a batch pipeline uses must apply
    // to readStream without modification — and produce batch-identical
    // rows. (This is the streaming face of the 100 TB posture: ingest-time
    // canonicalization/tokenization with no separate code path.)
    import spark.implicits._
    import graft.pipeline.{BpeOps, UnigramOps, UrlOps}
    val src = Files.createTempDirectory("kstream").toString
    val docs = Seq(
      (1L, "low lower newest", "http://WWW.Example.com:80/a/?utm_source=x&b=1"),
      (2L, "newest widest low", "https://u:pw@shop.example.co.uk/p%7E/"),
      (3L, "low low widest", "HTTPS://site%2Eexample.com/?z=2&a=1#frag"))
      .toDF("doc_id", "text", "url")
    docs.write.mode("overwrite").parquet(src)

    val hist = Seq("low" -> 6L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = BpeOps.trainMerges(hist, 5)
    val model = BpeOps.BpeModel(merges, BpeOps.buildVocab(hist.map(_._1), merges))
    val uniModel = UnigramOps.buildModel(UnigramOps.trainPieces(
      hist.map { case (w, c) => (s"${UnigramOps.Boundary}$w", c) },
      vocabSize = 32, maxPieceLen = 4, seedSize = 64, emIters = 2))
    def kernels(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      UnigramOps.withPieceIds(
        BpeOps.withTokenIds(
          UrlOps.withCanonicalUrl(df, col("url"), "curl"),
          "text", model, "tok"),
        "text", uniModel, "utok")
        .select(col("doc_id"), col("curl"),
          UrlOps.registrableDomain(UrlOps.hostOf(col("curl"))).as("domain"),
          col("tok").cast("string").as("tok_s"),
          col("utok").cast("string").as("utok_s"))

    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, url STRING").parquet(src)
    val q = kernels(stream)
      .writeStream.format("memory").queryName("kern").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("SELECT * FROM kern").collect().map(_.toString).toSet
    val batch = kernels(spark.read.parquet(src)).collect().map(_.toString).toSet
    assert(got == batch && got.size == 3,
      "streaming and batch kernel outputs must be identical")
  }
}

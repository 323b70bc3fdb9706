package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.{FileCatalog, TableIdent}
import graft.core.Transform
import graft.spark.{IceMV, IceScan, IceWrite}
import graft.spec._
import graft.table.{IceTable, Maintenance}

/** `table`: one client runs a writer's and a reader's ops against one
  * lineitem-shaped table partitioned by `month(l_shipdate)` on a fresh
  * [[FileCatalog]] behind the benchmark's [[TracingCatalog]]: appends in
  * ship-date order, the three delete kinds, refreshes of an aggregate MV and
  * a filter MV, periodic maintenance, and selective, full and time-travel
  * reads returning a small aggregate, in whole 12-append cycles. */
final class TableWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  import TableWorkload._

  /** One table and its two MVs: the measured one, or a throwaway one to warm
    * up on. */
  private final class Lane(dir: Path) {
    val catalog = new TracingCatalog(new FileCatalog(dir.toString), tracer)
    var table: IceTable = catalog.createTable(ident, schema, spec, Map.empty)
    mvs.foreach { case (k, id) =>
      IceMV.create(spark, catalog, id, ctx.plan.get("mv_sql").get(k).asText)
    }
    /** Snapshot id after each applied op, by op index (time-travel targets). */
    val snapshotAt = mutable.Map.empty[Int, Long]
  }

  private var lane: Lane = _
  private var builds = 0
  private val refreshes = mutable.ArrayBuffer.empty[IceMV.Strategy]
  private var writeMs, refreshMs, maintenanceMs = 0.0
  private var filesWritten, appendedBytes = 0L
  private val planMs, execMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val scanned = mutable.ArrayBuffer.empty[(String, Long, Int)] // kind, snapshot, files
  private var requested = 0L

  def setup(): Unit = {
    builds += 1
    lane = new Lane(ctx.work.resolve(s"warehouse-$builds"))
  }

  /** Every op kind on throwaway tables before the window: the first
    * write, refresh, maintenance and read of a JVM pay for class loading
    * and code generation, which is not what the window measures. The plan's
    * warm-up lanes run side by side, each on its own table. */
  override def prepare(): Unit = {
    val lanes = ctx.plan.get("warmup").elements().asScala.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes.size)
    try lanes.zipWithIndex.map { case (ops, k) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val warm = new Lane(ctx.work.resolve(s"warmup-$k"))
          ops.elements().asScala.zipWithIndex.foreach { case (op, i) => apply(warm, op, i) }
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    lane.catalog.reset()
  }

  /** Runs one op on `l`, recording layer numbers when `l` is the measured
    * lane; returns a read's answer. */
  private def apply(l: Lane, op: JsonNode, index: Int): Option[Seq[Long]] = {
    val measured = l eq lane
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    def commit(kind: String)(write: => IceTable): Option[Seq[Long]] = {
      val before = l.table.currentSnapshot().map(_.snapshotId)
      l.table = tracer.span("spark", "write_" + kind)(write)
      val snap = l.table.currentSnapshot()
      snap.foreach(s => l.snapshotAt(index) = s.snapshotId)
      if (measured) {
        writeMs += ms
        if (snap.map(_.snapshotId) != before) filesWritten += snap.toSeq.flatMap(s =>
          Seq("added-data-files", "added-delete-files").flatMap(s.summary.get)).map(_.toLong).sum
      }
      None
    }
    op.get("kind").asText match {
      case "append" =>
        if (measured) appendedBytes += op.get("bytes").asLong
        commit("append")(IceWrite.append(spark, l.table,
          spark.read.parquet(ctx.work.resolve(op.get("file").asText).toString)))
      case "eq_delete" =>
        import spark.implicits._
        val keys = op.get("keys").elements().asScala.map(_.asLong).toSeq.toDF("l_orderkey")
        commit("eq_delete")(IceWrite.appendEqualityDeletes(spark, l.table, keys, Seq(1)))
      case "pos_delete" =>
        commit("pos_delete")(IceWrite.appendPositionDeletes(spark, l.table, predicate(op.get("pred"))))
      case "dv_delete" =>
        commit("dv_delete")(IceWrite.appendDeletionVectors(spark, l.table, predicate(op.get("pred"))))
      case "mv_refresh" =>
        val r = tracer.span("spark", "mv_refresh")(
          IceMV.refresh(spark, l.catalog, mvs(op.get("mv").asText)))
        if (measured) { refreshes += r.strategy; refreshMs += ms }
        None
      case "maintenance" =>
        val action = op.get("action").asText
        tracer.span("table", "maintenance_" + action)(action match {
          case "rewrite_manifests" => Maintenance.rewriteManifests(l.table)
          case "convert_eq_deletes" => Maintenance.convertEqualityDeletes(spark, l.table)
        })
        l.table = l.catalog.loadTable(ident).get
        if (measured) maintenanceMs += ms
        None
      case kind => Some(read(l, kind, op, measured))
    }
  }

  private def read(l: Lane, kind: String, op: JsonNode, measured: Boolean): Seq[Long] = {
    val t = l.catalog.loadTable(ident).get
    val snapshot = if (kind == "time_travel") l.snapshotAt(op.get("step").asInt)
                   else t.currentSnapshot().get.snapshotId
    val t0 = System.nanoTime()
    val df = tracer.span("spark", "scan_plan")(kind match {
      case "selective" =>
        IceScan.scan(spark, t, Seq(
          col("l_shipdate") >= lit(LocalDate.parse(op.get("date_lo").asText)),
          col("l_shipdate") < lit(LocalDate.parse(op.get("date_hi").asText)),
          col("l_orderkey") >= op.get("key_lo").asLong,
          col("l_orderkey") < op.get("key_hi").asLong))
      case "full" => IceScan.scan(spark, t)
      case "time_travel" =>
        IceScan.scan(spark, t, options = IceScan.ScanOptions(snapshotId = Some(snapshot)))
    })
    val t1 = System.nanoTime()
    val answer = tracer.span("spark", "scan_exec")(TableWorkload.answer(df))
    if (measured) {
      planMs(kind) += (t1 - t0) / 1e6
      execMs(kind) += (System.nanoTime() - t1) / 1e6
      if (tracer.enabled) scanned += ((kind, snapshot, df.inputFiles.length))
    }
    answer
  }

  private var index = -1
  def run(op: JsonNode): Option[Seq[Long]] = {
    index += 1
    // traced: manifests listed by the snapshot a write or refresh starts
    // from (a cached manifest-list lookup), for the cache hit ratio; reads
    // count theirs after the window
    if (tracer.enabled && Set("append", "eq_delete", "pos_delete", "dv_delete", "mv_refresh",
        "maintenance")(op.get("kind").asText)) requested +=
      lane.table.currentSnapshot().map(lane.table.manifests(_).size).getOrElse(0)
    apply(lane, op, index)
  }

  def finish(out: ObjectNode): Unit = {
    val c = lane.catalog
    out.put("catalog.load_calls", c.loadCalls.get); out.put("catalog.load_ms", c.loadNanos.get / 1e6)
    out.put("catalog.update_calls", c.updateCalls.get)
    out.put("catalog.update_ms", c.updateNanos.get / 1e6)
    out.put("catalog.conflicts", c.conflicts.get)
    out.put("table.maintenance_ms", maintenanceMs)
    out.put("spark.write_ms", writeMs)
    out.put("spark.files_written", filesWritten)
    out.put("spark.mv_refresh_ms", refreshMs)
    val worked = refreshes.filter(_ != IceMV.Fresh)
    out.put("spark.mv_incremental_ratio",
      if (worked.isEmpty) 0.0 else worked.count(_ != IceMV.FullOverwrite).toDouble / worked.size)
    out.put("spark.scan_plan_ms", planMs.values.sum)
    out.put("spark.scan_exec_ms", execMs.values.sum)
    val stored = Files.walk(ctx.work.resolve(s"warehouse-$builds"))
    try out.put("stored_bytes",
      stored.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
    finally stored.close()
    out.put("appended_bytes", appendedBytes)
    // table shape, read after the window so it cannot warm the cache
    val t = lane.table
    val snap = mutable.Map.empty[Long, (Seq[String], Int, Int)] // manifests, data, delete files
    def shape(id: Long) = snap.getOrElseUpdate(id, {
      val s = t.snapshotById(id).get
      (t.manifests(s).map(_.manifestPath), t.dataFiles(s).size, t.deleteFiles(s).size)
    })
    val current = shape(t.currentSnapshot().get.snapshotId)
    out.put("table.live_manifests", current._1.size)
    out.put("table.live_data_files", current._2)
    out.put("table.live_delete_files", current._3)
    out.put("table.manifests_time_travel",
      lane.snapshotAt.values.toSet.flatMap((id: Long) => shape(id)._1).size)
    if (tracer.enabled) {
      out.put("table.manifests_requested", requested + scanned.map(s => shape(s._2)._1.size).sum)
      out.put("spark.delete_files_applied",
        scanned.filter(_._1 != "selective").map(s => shape(s._2)._3).sum)
      val sel = scanned.filter(_._1 == "selective")
      out.put("spark.files_scanned", sel.map(_._3).sum)
      out.put("spark.live_files_selective", sel.map(s => shape(s._2)._2).sum)
    }
    // correctness dumps: the final scan, and both MVs after a last refresh
    val dumps = ctx.work.resolve("out")
    IceScan.scan(spark, t).write.parquet(dumps.resolve("final_scan").toString)
    mvs.foreach { case (k, id) =>
      IceMV.refresh(spark, c, id)
      IceMV.read(spark, c, id).write.parquet(dumps.resolve(s"mv_$k").toString)
    }
  }
}

object TableWorkload {
  val ident: TableIdent = TableIdent(Seq("bench"), "lineitem")
  val mvs: Map[String, TableIdent] = Map(
    "agg" -> TableIdent(Seq("bench"), "mv_agg"), "filter" -> TableIdent(Seq("bench"), "mv_filter"))

  val schema: IceSchema = IceSchema(0, Seq(
    NestedField(1, "l_orderkey", required = false, IceType.LongT),
    NestedField(2, "l_partkey", required = false, IceType.LongT),
    NestedField(3, "l_suppkey", required = false, IceType.LongT),
    NestedField(4, "l_linenumber", required = false, IceType.IntT),
    NestedField(5, "l_quantity", required = false, IceType.DoubleT),
    NestedField(6, "l_extendedprice", required = false, IceType.DoubleT),
    NestedField(7, "l_discount", required = false, IceType.DoubleT),
    NestedField(8, "l_tax", required = false, IceType.DoubleT),
    NestedField(9, "l_returnflag", required = false, IceType.StringT),
    NestedField(10, "l_linestatus", required = false, IceType.StringT),
    NestedField(11, "l_shipdate", required = false, IceType.DateT)))
  val spec: PartitionSpec = PartitionSpec(0, Seq(
    PartitionField(11, 1000, "l_shipdate_month", Transform.Month)))

  /** `{"date_lo","date_hi","mod","rem"}`: ship date in [lo, hi) and
    * `l_partkey % mod == rem` — checks.py renders the same predicate in SQL. */
  def predicate(p: JsonNode): Column =
    col("l_shipdate") >= lit(LocalDate.parse(p.get("date_lo").asText)) &&
      col("l_shipdate") < lit(LocalDate.parse(p.get("date_hi").asText)) &&
      (col("l_partkey") % p.get("mod").asLong) === p.get("rem").asLong

  /** The small aggregate every read returns: (rows, sum of quantity). */
  def answer(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("l_quantity").cast("long")), lit(0L)))
      .collect()(0)
    Seq(r.getLong(0), r.getLong(1))
  }
}

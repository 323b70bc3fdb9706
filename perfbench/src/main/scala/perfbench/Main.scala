package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{GraftShim, SparkSession}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val engine: EngineListener,
                val work: Path, val plan: JsonNode, val result: ObjectNode) {
  def drain(): Unit = GraftShim.drainListenerBus(spark)
}

/** A workload: a fixture built in setup, then the plan's ops run one at a
  * time by a single client thread. The window is every op of the plan: a
  * fixed amount of work that inputs.py sizes from `--seconds`, so each run
  * does the same work whatever its speed. */
trait Workload {
  /** Builds the fixture; the harness times each call and repeats it. */
  def setup(): Unit
  /** Work before the window that is not part of the fixture. */
  def prepare(): Unit = ()
  /** Runs one op; returns its answer (checked against the model later). */
  def run(op: JsonNode): Option[Seq[Long]]
  /** Correctness dumps and layer counters, all after the window. */
  def finish(out: ObjectNode): Unit
}

/** Benchmark process: `--workload --work <dir> --seconds --trace --cpus`.
  * Reads `<work>/plan.json` (made by run.py from the seed), writes
  * `<work>/result.json` and, traced, `<work>/spans.tsv` + `<work>/jobs.tsv`.
  * Prints `PERFBENCH session-ready` once the Spark session is up. */
object Main {
  val mapper = new ObjectMapper()
  /** Fixture builds per run; set-up time takes their median. */
  val SetupRepeats = 5

  /** CPU-seconds this JVM has used so far, all threads. Unlike wall time it
    * does not count time the host takes the CPU away from this VM. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(o("work"))
    val plan = mapper.readTree(work.resolve("plan.json").toFile)
    val cpus = o("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new graft.spark.sql.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val result = mapper.createObjectNode()
    result.put("session_cpu_s", processCpuS())
    result.put("session_wall_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    println("PERFBENCH session-ready"); Console.out.flush()

    val ctx = new Ctx(spark, new Tracer(o("trace") == "1"), engine, work, plan, result)
    val wl: Workload = o("workload") match {
      case "table" => new TableWorkload(ctx)
      case "pipeline" => new Pipeline(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try measure(ctx, wl, o("seconds").toDouble)
    finally {
      Files.write(work.resolve("result.json"), mapper.writeValueAsBytes(result))
      println("PERFBENCH result-written"); Console.out.flush()
      spark.stop()
    }
  }

  private def measure(ctx: Ctx, wl: Workload, seconds: Double): Unit = {
    val r = ctx.result
    val fixtureCpu = r.putArray("fixture_cpu_s")
    val fixtureWall = r.putArray("fixture_wall_s")
    (0 until SetupRepeats).foreach { _ =>
      val (c0, t0) = (processCpuS(), System.nanoTime())
      wl.setup()
      fixtureCpu.add(processCpuS() - c0)
      fixtureWall.add((System.nanoTime() - t0) / 1e9)
    }

    wl.prepare()
    val ops = ctx.plan.get("ops").elements().asScala.toSeq
    val gc = () => java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    val box0 = graft.BoxState.cpuTicks()
    r.put("load_avg", graft.BoxState.loadAvg())
    ctx.drain()
    val e0 = ctx.engine.totals
    val uncached0 = graft.table.ManifestIO.uncachedManifestReads
    val gc0 = gc()
    val driver0 = driverThreadCpu()
    val start = Clock.nowMs()
    val recs = r.putArray("ops")
    ops.zipWithIndex.foreach { case (op, i) =>
      ctx.tracer.currentOp = i
      val cpu0 = if (ctx.tracer.enabled) { ctx.drain(); ctx.engine.totals.cpuNanos } else 0L
      val s = Clock.nowMs()
      val (answer, err) =
        try (wl.run(op), None)
        catch { case NonFatal(e) => (None, Some(e.toString)) }
      val e = Clock.nowMs()
      val rec = recs.addObject()
      rec.put("kind", op.get("kind").asText)
      rec.put("name", Option(op.get("name")).map(_.asText).getOrElse(op.get("kind").asText))
      rec.put("start_ms", s); rec.put("end_ms", e)
      rec.put("ok", err.isEmpty)
      err.foreach { m => rec.put("error", m); System.err.println(s"[perfbench] op $i failed: $m") }
      answer.foreach { a => val arr = rec.putArray("answer"); a.foreach(arr.add(_)) }
      if (ctx.tracer.enabled) {
        ctx.drain(); rec.put("cpu_s", (ctx.engine.totals.cpuNanos - cpu0) / 1e9)
      }
    }
    val end = Clock.nowMs()
    ctx.drain()
    val e1 = ctx.engine.totals
    val w = r.putObject("window")
    w.put("start_ms", start); w.put("end_ms", end); w.put("seconds", seconds)
    w.put("cpu_s", (e1.cpuNanos - e0.cpuNanos) / 1e9)
    w.put("driver_cpu_s",
      driverThreadCpu().map { case (id, t) => t - driver0.getOrElse(id, 0L) }.sum / 1e9)
    w.put("jobs", e1.jobs - e0.jobs); w.put("tasks", e1.tasks - e0.tasks)
    w.put("shuffle_write_bytes", e1.shuffleWrite - e0.shuffleWrite)
    w.put("spill_bytes", e1.spill - e0.spill)
    w.put("bytes_written", e1.bytesWritten - e0.bytesWritten)
    w.put("gc_ms", gc() - gc0)
    w.put("manifest_reads_uncached", graft.table.ManifestIO.uncachedManifestReads - uncached0)
    r.put("foreign_cpu_share", graft.BoxState.foreignShare(box0, graft.BoxState.cpuTicks()))
    r.put("rss_peak_mb", rssPeakMb())

    wl.finish(r.putObject("layers"))
    if (ctx.tracer.enabled) writeTrace(ctx)
  }

  /** CPU time by thread id of every live Java thread except Spark's task
    * threads: the client thread, graft's manifest IO pool and Spark's driver
    * threads. JIT compiler and GC threads are not Java threads. */
  private def driverThreadCpu(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.toSeq.flatMap { id =>
      Option(mx.getThreadInfo(id))
        .filterNot(_.getThreadName.startsWith("Executor task launch worker"))
        .map(_ => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0)
    }.toMap
  }

  /** Peak resident set of this JVM (VmHWM), read before the post-window
    * correctness dumps run. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeTrace(ctx: Ctx): Unit = {
    val spans = ctx.tracer.all.map(s =>
      f"${s.id}\t${s.parent}\t${s.layer}\t${s.name}\t${s.op}\t${s.startMs}%.4f\t${s.endMs}%.4f")
    Files.write(ctx.work.resolve("spans.tsv"), spans.asJava)
    val jobs = ctx.engine.intervals.map { case (a, b) => s"$a\t$b" }
    Files.write(ctx.work.resolve("jobs.tsv"), jobs.asJava)
  }
}

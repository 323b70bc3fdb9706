package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

import graft.catalog._
import graft.spec.{IceSchema, PartitionSpec, TableMetadata, ViewMetadata}
import graft.table.IceTable

/** Wall clock in epoch milliseconds with nanosecond resolution: Spark's
  * listener events carry epoch-ms stamps, so op and span intervals are
  * kept on the same axis to overlap them with job intervals. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One layer span. `parent` is the id of the enclosing span on the same
  * thread (-1 at top level); `op` is the index of the op it ran under. */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Int,
                      startMs: Double, endMs: Double)

/** Records layer spans around the benchmark's calls into graft's public
  * functions. Disabled, `span` only runs its body: untraced runs pay one
  * branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var currentOp: Int = -1

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = Clock.nowMs()
      try f
      finally {
        val t1 = Clock.nowMs()
        stack.set(outer)
        spans.synchronized(spans += Span(id, outer.headOption.getOrElse(-1), layer, name,
          currentOp, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Delegating [[Catalog]] the benchmark owns: counts and times table loads
  * and commits (the catalog layer), and hands out tables bound to itself so
  * every later commit of those tables comes back through it. */
final class TracingCatalog(inner: Catalog, tracer: Tracer) extends Catalog {
  val loadCalls = new AtomicLong
  val loadNanos = new AtomicLong
  val updateCalls = new AtomicLong
  val updateNanos = new AtomicLong
  val conflicts = new AtomicLong

  /** Zeroes the counters: called when the window opens. */
  def reset(): Unit = Seq(loadCalls, loadNanos, updateCalls, updateNanos, conflicts).foreach(_.set(0))

  private def timed[A](calls: AtomicLong, nanos: AtomicLong, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span("catalog", name)(f)
    finally { calls.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0) }
  }
  private def rebind(t: IceTable): IceTable = new IceTable(t.ident, this, t.metadata)

  def createTable(ident: TableIdent, schema: IceSchema, spec: PartitionSpec,
                  properties: Map[String, String]): IceTable =
    tracer.span("catalog", "create")(rebind(inner.createTable(ident, schema, spec, properties)))
  def loadTable(ident: TableIdent): Option[IceTable] =
    timed(loadCalls, loadNanos, "load")(inner.loadTable(ident).map(rebind))
  def updateTable(commit: CommitTable): TableMetadata =
    timed(updateCalls, updateNanos, "update") {
      try inner.updateTable(commit)
      catch { case e: CommitConflictException => conflicts.incrementAndGet(); throw e }
    }
  def dropTable(ident: TableIdent): Unit = inner.dropTable(ident)
  def listTables(namespace: Seq[String]): Seq[TableIdent] = inner.listTables(namespace)
  def createNamespace(namespace: Seq[String]): Unit = inner.createNamespace(namespace)
  def dropNamespace(namespace: Seq[String]): Unit = inner.dropNamespace(namespace)
  def listNamespaces(): Seq[Seq[String]] = inner.listNamespaces()
  def registerTable(ident: TableIdent, metadataLocation: String): IceTable =
    rebind(inner.registerTable(ident, metadataLocation))
  def renameTable(from: TableIdent, to: TableIdent): Unit = inner.renameTable(from, to)
  def renameView(from: TableIdent, to: TableIdent): Unit = inner.renameView(from, to)
  def createView(ident: TableIdent, metadata: ViewMetadata): Unit =
    tracer.span("catalog", "create_view")(inner.createView(ident, metadata))
  def replaceView(ident: TableIdent, metadata: ViewMetadata): Unit =
    tracer.span("catalog", "replace_view")(inner.replaceView(ident, metadata))
  def loadView(ident: TableIdent): Option[ViewMetadata] =
    timed(loadCalls, loadNanos, "load_view")(inner.loadView(ident))
  def dropView(ident: TableIdent): Unit = inner.dropView(ident)
}

/** Spark listener for the engine numbers: job intervals (to split op wall
  * time into "a job ran" and "driver only"), task counts and task metrics.
  * Always installed — `cpu_s` is an end-to-end metric. */
final class EngineListener extends SparkListener {
  import EngineListener.Totals
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private var jobs, tasks, cpuNanos, shuffleWrite, spill, bytesWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNanos += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def totals: Totals = synchronized(Totals(jobs, tasks, cpuNanos, shuffleWrite, spill, bytesWritten))
  def intervals: Seq[(Long, Long)] = synchronized(jobIntervals.toList)
}

object EngineListener {
  final case class Totals(jobs: Long, tasks: Long, cpuNanos: Long, shuffleWrite: Long,
                          spill: Long, bytesWritten: Long)
}

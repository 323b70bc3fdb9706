package graft.spark.expressions

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{Puffin, Roaring}

/** One delete file as the executor-side delete index sees it: everything
  * the manifest says about it, and nothing read from the file itself.
  * `tag` is the partition tag of a partition-scoped equality delete (null
  * when it applies table-wide); `offset`/`length` locate a deletion-vector
  * blob inside its puffin file, whose referenced data file is `referenced`. */
final case class DeleteRef(path: String, size: Long, kind: Int, seq: Long, tag: String,
                           eqIds: Seq[Int], offset: Long, length: Long, referenced: String)

object DeleteRef {
  val PositionFile = 0
  val DeletionVector = 1
  val EqualityFile = 2
}

/** How an executor opens the delete files of one scan. Delete-row files go
  * through Spark's own parquet reader, built once per scan on the driver
  * over one requested schema: the two positional columns at ordinals 0 and
  * 1, then each equality key column at `ordinals(fieldId)` with the scan's
  * own type for it. A delete key therefore decodes to exactly the value the
  * data scan produces for the same stored value. Puffin blobs read through
  * `conf`. Either side is null when the scan has no file of that kind.
  *
  * All loaders compare equal: what a loader decodes is fixed by the
  * [[DeleteRef]]s and key types its expression carries, so plans that mask
  * the same files stay equal (cache lookups, exchange reuse). */
final class DeleteLoader(read: PartitionedFile => Iterator[InternalRow],
                         ordinals: Map[Int, Int],
                         conf: () => Configuration) extends Serializable {

  /** The (equality ids) key rows of an equality-delete file, normalized
    * the way Spark normalizes join keys (NaN and -0.0). */
  def keys(f: DeleteRef, ids: Seq[Int], types: Seq[DataType]): Array[UnsafeRow] =
    DeleteCache((f.path, f.size, ids, types)) {
      val proj = UnsafeProjection.create(ids.zip(types).map { case (id, t) =>
        GraftShim.normalizeFloats(BoundReference(ordinals(id), t, nullable = true))
      })
      rows(f).map(r => proj(r).copy()).toArray
    }

  /** Per data file, the positions a parquet position-delete file deletes. */
  def positions(f: DeleteRef): Map[String, Roaring.Bitmap64] =
    DeleteCache((f.path, f.size)) {
      val byPath = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      rows(f).foreach { r =>
        byPath.getOrElseUpdate(r.getUTF8String(0).toString, new scala.collection.mutable.ArrayBuilder.ofLong) +=
          r.getLong(1)
      }
      byPath.iterator.map { case (p, b) =>
        val xs = b.result(); java.util.Arrays.sort(xs)
        p -> Roaring.Bitmap64.fromSorted(xs)
      }.toMap
    }

  /** A deletion vector's positions. */
  def vector(f: DeleteRef): Roaring.Bitmap64 =
    DeleteCache((f.path, f.size, f.offset, f.length)) {
      Puffin.dvFromBlob(Puffin.readBlobRange(conf(), f.path, f.offset, f.length))
    }

  private def rows(f: DeleteRef): Iterator[InternalRow] =
    read(PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(f.path), 0L, f.size,
      Array.empty[String], 0L, f.size))

  override def equals(other: Any): Boolean = other.isInstanceOf[DeleteLoader]
  override def hashCode(): Int = getClass.hashCode()
}

/** The JVM-wide cache of decoded delete files (Iceberg's executor-side
  * delete cache). Delete files are immutable, so an entry keyed by path
  * and size — plus the key types for equality deletes, or the blob range
  * for a deletion vector — is valid for the life of the JVM. Loads are
  * single-flight: the first task to probe a file decodes it while the
  * others wait on the same slot. Bounded in entries, least recently used
  * first out. */
private[graft] object DeleteCache {
  private val Capacity = 256

  private final class Slot(load: () => AnyRef) {
    lazy val value: AnyRef = { loads.incrementAndGet(); load() }
  }

  private val slots = new java.util.LinkedHashMap[Any, Slot](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Any, Slot]): Boolean = size() > Capacity
  }
  private val loads = new java.util.concurrent.atomic.AtomicLong(0)

  def apply[V <: AnyRef](key: Any)(load: => V): V = {
    val slot = slots.synchronized {
      val hit = slots.get(key)
      if (hit != null) hit else { val s = new Slot(() => load); slots.put(key, s); s }
    }
    // outside the map's lock: one file's decode blocks only its own key. A
    // failed load leaves the map, so the next probe retries with its own
    // scan's loader rather than this one's
    try slot.value.asInstanceOf[V]
    catch {
      case e: Throwable =>
        slots.synchronized(if (slots.get(key) eq slot) slots.remove(key))
        throw e
    }
  }

  /** Decodes performed in this JVM (test instrumentation). */
  def decodes: Long = loads.get
}

/** TRUE iff the row at (`path`, `pos`) is deleted by a position delete:
  * a deletion-vector blob that references the row's data file, or any of
  * the parquet position-delete `files`. The merge-on-read positional layer
  * as a FILTER inside the scan stage — no join, no shuffle, plan width
  * constant in the number of delete files. The descriptor is all the plan
  * carries; each executor decodes a file on first probe ([[DeleteLoader]],
  * [[DeleteCache]]), and a task resolves the bitmaps of a data file once,
  * since rows arrive grouped by file.
  *
  * CodegenFallback: the per-row work is one path comparison and a bitmap
  * membership test on a primitive long. The Filter that holds the
  * expression runs interpreted, between the scan's codegen stages.
  */
case class DvDeleted(path: Expression, pos: Expression, files: Seq[DeleteRef], loader: DeleteLoader)
    extends Expression with Predicate with CodegenFallback {

  override def children: Seq[Expression] = Seq(path, pos)
  override def nullable: Boolean = false

  @transient private lazy val vectorOf: Map[String, DeleteRef] =
    files.filter(_.kind == DeleteRef.DeletionVector).map(f => f.referenced -> f).toMap
  @transient private lazy val positionFiles: Seq[DeleteRef] =
    files.filter(_.kind == DeleteRef.PositionFile)
  // the last data file probed and its bitmaps
  @transient @volatile private var current: (UTF8String, Array[Roaring.Bitmap64]) = _

  private def masksOf(p: UTF8String): Array[Roaring.Bitmap64] = {
    val c = current
    if (c != null && c._1 == p) c._2
    else {
      val key = p.toString
      val masks = (vectorOf.get(key).map(loader.vector) ++
        positionFiles.flatMap(f => loader.positions(f).get(key))).toArray
      current = (p.clone(), masks)
      masks
    }
  }

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input)
    val x = pos.eval(input)
    if (p == null || x == null) false
    else {
      val masks = masksOf(p.asInstanceOf[UTF8String])
      val at = x.asInstanceOf[Long]
      var i = 0
      while (i < masks.length && !masks(i).contains(at)) i += 1
      i < masks.length
    }
  }

  override def toString: String = s"$prettyName($path, $pos, ${files.size} delete files)"

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DvDeleted =
    copy(path = newChildren(0), pos = newChildren(1))
}

/** One (equality ids, scoped) group of equality-delete files. */
final case class EqGroup(ids: Seq[Int], scoped: Boolean, files: Seq[DeleteRef])

/** TRUE iff an equality delete masks the row: for some group, the index of
  * its files maps the row's key — plus the row's partition tag when the
  * group is partition-scoped — to a delete sequence number greater than the
  * row's data sequence number (the spec's "Scan Planning" rule: an
  * equality delete applies to data with a strictly lower data sequence
  * number). Keys are `UnsafeRow` projections with floats normalized as
  * Spark normalizes join keys, and a null key field matches a null key
  * field: the null-safe `<=>` of an anti-join on the same keys.
  *
  * Children: the row's data sequence number, its partition tag (a null
  * literal when no group is scoped), then each group's key columns in
  * `ids` order. Each task builds its key → max sequence maps once from the
  * per-file key sets of the JVM-wide [[DeleteCache]].
  */
case class EqDeleted(children: Seq[Expression], groups: Seq[EqGroup], loader: DeleteLoader)
    extends Expression with Predicate with CodegenFallback {

  override def nullable: Boolean = false

  private def keyChildren(g: Int): Seq[Expression] =
    children.slice(2 + groups.take(g).map(_.ids.size).sum, 2 + groups.take(g + 1).map(_.ids.size).sum)

  @transient private lazy val projections: Array[UnsafeProjection] =
    groups.indices.map(g => UnsafeProjection.create(keyChildren(g).map(GraftShim.normalizeFloats))).toArray

  /** Per group, tag (null when global) → key → max delete sequence. */
  @transient private lazy val index: Array[java.util.HashMap[UTF8String, java.util.HashMap[UnsafeRow, java.lang.Long]]] =
    groups.indices.map { g =>
      val types = keyChildren(g).map(_.dataType)
      val byTag = new java.util.HashMap[UTF8String, java.util.HashMap[UnsafeRow, java.lang.Long]]()
      groups(g).files.foreach { f =>
        val tag = if (groups(g).scoped) UTF8String.fromString(f.tag) else null
        var m = byTag.get(tag)
        if (m == null) { m = new java.util.HashMap(); byTag.put(tag, m) }
        val seq = java.lang.Long.valueOf(f.seq)
        loader.keys(f, groups(g).ids, types).foreach { k =>
          val prior = m.get(k)
          if (prior == null || prior < f.seq) m.put(k, seq)
        }
      }
      byTag
    }.toArray

  @transient private lazy val scoped: Array[Boolean] = groups.map(_.scoped).toArray

  override def eval(input: InternalRow): Any = {
    val seq = children.head.eval(input).asInstanceOf[Long]
    val tag = children(1).eval(input).asInstanceOf[UTF8String]
    var g = 0
    while (g < scoped.length) {
      val m = if (!scoped(g)) index(g).get(null) else if (tag == null) null else index(g).get(tag)
      if (m != null) {
        val deleted = m.get(projections(g)(input))
        if (deleted != null && deleted > seq) return true
      }
      g += 1
    }
    false
  }

  override def toString: String =
    s"$prettyName(${children.mkString(", ")}, ${groups.map(_.files.size).sum} delete files)"

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): EqDeleted =
    copy(children = newChildren)
}

package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Flat centroid set carried OUTSIDE the plan tree: ids, the quantized
  * centroid matrix in row-major layout, and per-centroid squared norms.
  * One object referenced by one expression node — plan size and codegen
  * cost stay O(1) in the number of cells, versus the literal-inlined
  * formulation whose plan grows a struct per centroid.
  */
final class CentroidSet(val ids: Array[Long], val flat: Array[Long],
                        val n2: Array[Long], val dim: Int) extends Serializable {
  def count: Int = ids.length
  def longs: Long = ids.length.toLong * dim
  override def toString: String = s"CentroidSet(${ids.length} cells, dim=$dim)"
}

object CentroidSet {
  /** Ceiling on cells × dim for the PLAN-CARRIED form ([[NearestCells]]).
    * A referenced object serializes into every task binary, so the
    * practical bound is what each task launch can afford to ship and
    * deserialize: 2^24 longs = 128 MiB — ~10⁵ cells at dim 128, far above
    * any IVF cell count this engine trains (cells ≈ √n). Beyond it
    * [[NearestCells.nearestCellIds]] automatically moves the matrix into a
    * `SparkContext.broadcast` fetched inside the kernel
    * ([[NearestCellsBcast]]) — shipped ONCE per executor instead of per
    * task; the expression shape (one constant-size node, static kernel
    * call, identical arithmetic) does not change. Overridable for tests. */
  def maxInlineLongs: Long =
    graft.core.SysProps.long("graft.ivf.inline.longs.max", 1L << 24, min = 0)

  def apply(cents: Array[(Long, Array[Long], Long)]): CentroidSet = {
    val dim = cents.head._2.length
    val flat = new Array[Long](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, q, _), i) =>
      System.arraycopy(q, 0, flat, i * dim, math.min(q.length, dim))
    }
    new CentroidSet(cents.map(_._1), flat, cents.map(_._3), dim)
  }
}

/** Static kernel shared by interpreted and generated paths (Janino resolves
  * the static forwarder, like [[BucketKernel]]).
  */
object NearestCellsKernel {
  /** Ids of the `m` nearest centroids to (qv, n2) by exact integer
    * d² = |v|² + |c|² − 2⟨v,c⟩, ties broken by ascending cell id — the same
    * (d², c) ordering the literal struct-sort path uses. Bounded insertion
    * keeps selection O(cells · (dim + m)) with no allocation beyond the
    * result.
    */
  def topCells(qv: ArrayData, n2: Long, cents: CentroidSet, m: Int): ArrayData = {
    val c = cents.count
    val dim = math.min(cents.dim, qv.numElements())
    val keep = math.min(m, c)
    val bd = new Array[Long](keep)
    val bi = new Array[Long](keep)
    var filled = 0
    var ci = 0
    while (ci < c) {
      var dot = 0L
      val base = ci * cents.dim
      var i = 0
      while (i < dim) { dot += qv.getLong(i) * cents.flat(base + i); i += 1 }
      val d2 = n2 + cents.n2(ci) - 2L * dot
      val id = cents.ids(ci)
      val better = filled < keep || d2 < bd(filled - 1) ||
        (d2 == bd(filled - 1) && id < bi(filled - 1))
      if (better) {
        var pos = if (filled < keep) filled else keep - 1
        while (pos > 0 && (d2 < bd(pos - 1) || (d2 == bd(pos - 1) && id < bi(pos - 1)))) {
          bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
        }
        bd(pos) = d2; bi(pos) = id
        if (filled < keep) filled += 1
      }
      ci += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bi, filled))
  }
}

/** Per-row IVF cell assignment/probe list as ONE codegen expression holding
  * the centroid matrix as a referenced object — the scale path above the
  * literal-inlining threshold (reference capability: ANN cell routing; at
  * 10⁴-10⁵ cells a literal-struct plan blows up codegen and driver memory,
  * while this node is constant-size). Returns array<bigint> of the `m`
  * nearest cell ids, ordered by (d² asc, id asc) — bit-identical to the
  * literal array_sort(struct(d², c)) formulation.
  */
case class NearestCells(left: Expression, right: Expression,
                        cents: CentroidSet, m: Int) extends BinaryExpression {
  require(cents.longs <= CentroidSet.maxInlineLongs,
    s"$cents exceeds the ${CentroidSet.maxInlineLongs}-long plan-inline bound — " +
      "use NearestCells.nearestCellIds, which routes oversized matrices " +
      "through a Broadcast (NearestCellsBcast) instead of the task binary")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects (array<bigint>, bigint), got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NearestCellsKernel.topCells(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], cents, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", cents, classOf[CentroidSet].getName)
    val kernel = NearestCellsKernel.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel.topCells($a, $b, $centsRef, $m);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NearestCells =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_cells"
}

/** [[NearestCells]] with the centroid matrix behind a `Broadcast` — the
  * beyond-[[CentroidSet.maxInlineLongs]] form: the matrix ships to each
  * executor ONCE (torrent blocks) and every task resolves it by id, instead
  * of riding serialized inside every task binary. Same kernel, bit-identical
  * output.
  */
case class NearestCellsBcast(left: Expression, right: Expression,
                             bc: org.apache.spark.broadcast.Broadcast[CentroidSet],
                             m: Int) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells_bcast expects (array<bigint>, bigint), got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NearestCellsKernel.topCells(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], bc.value, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidsBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val centCls = classOf[CentroidSet].getName
    val kernel = NearestCellsKernel.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $kernel.topCells($a, $b, ($centCls) $bcRef.value(), $m);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NearestCellsBcast =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "nearest_cells_bcast"
}

object NearestCells {
  /** Top-`m` nearest-cell ids of a prepared (q, n2) row. Matrices within
    * [[CentroidSet.maxInlineLongs]] ride the plan directly; larger ones are
    * broadcast once per executor and resolved inside the kernel — same
    * arithmetic, same (d², id) ordering, different transport.
    */
  def nearestCellIds(q: Column, n2: Column, cents: Array[(Long, Array[Long], Long)], m: Int): Column = {
    val set = CentroidSet(cents)
    val (l, r) = (GraftShim.expression(q), GraftShim.expression(n2))
    if (set.longs <= CentroidSet.maxInlineLongs)
      GraftShim.column(NearestCells(l, r, set, m))
    else {
      val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(set)
      GraftShim.column(NearestCellsBcast(l, r, bc, m))
    }
  }
}

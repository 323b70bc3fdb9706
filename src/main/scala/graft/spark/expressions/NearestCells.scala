package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Flat centroid set carried OUTSIDE the plan tree: ids, the quantized
  * centroid matrix in row-major layout, and per-centroid squared norms.
  * One object referenced by one expression node — plan size and codegen
  * cost stay O(1) in the number of cells.
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
    * d² = |v|² + |c|² − 2⟨v,c⟩ + bias(c), ties broken by ascending cell id.
    * `bias` is empty (no bias) or holds one entry per centroid, in centroid
    * order — residual PQ's per-codeword term. Bounded insertion keeps
    * selection O(cells · (dim + m)) with no allocation beyond the result.
    */
  def topCells(qv: ArrayData, n2: Long, bias: ArrayData, cents: CentroidSet, m: Int): ArrayData = {
    val c = cents.count
    val dim = math.min(cents.dim, qv.numElements())
    val biased = bias.numElements() > 0
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
      val d2 = n2 + cents.n2(ci) - 2L * dot + (if (biased) bias.getLong(ci) else 0L)
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

/** The shared shape of both transports: (q array<bigint>, n2 bigint,
  * bias array<bigint>) → array<bigint> of the `m` nearest cell ids,
  * ordered by (d² asc, id asc), through one static kernel call.
  */
sealed abstract class NearestCellsExpr extends TernaryExpression {
  def left: Expression
  def right: Expression
  def bias: Expression
  def m: Int
  protected def centroids: CentroidSet
  /** Java expression evaluating to the node's [[CentroidSet]]. */
  protected def centroidsCode(ctx: CodegenContext): String

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = bias
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, bigint, array<bigint>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    NearestCellsKernel.topCells(a.asInstanceOf[ArrayData], b.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], centroids, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = centroidsCode(ctx)
    val kernel = NearestCellsKernel.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $kernel.topCells($a, $b, $c, $cents, $m);")
  }
}

/** Per-row nearest-centroid argmin as ONE codegen expression holding the
  * centroid matrix as a referenced object: IVF cell assignment and probe
  * lists, and PQ encoding (one node per subspace codebook, `bias` carrying
  * residual PQ's per-codeword term). Constant plan size in the number of
  * cells or codewords.
  */
case class NearestCells(left: Expression, right: Expression, cents: CentroidSet, m: Int,
                        bias: Expression = NearestCells.noBias) extends NearestCellsExpr {
  require(cents.longs <= CentroidSet.maxInlineLongs,
    s"$cents exceeds the ${CentroidSet.maxInlineLongs}-long plan-inline bound — " +
      "use NearestCells.nearestCellIds, which routes oversized matrices " +
      "through a Broadcast (NearestCellsBcast) instead of the task binary")

  override protected def centroids: CentroidSet = cents
  override protected def centroidsCode(ctx: CodegenContext): String =
    ctx.addReferenceObj("centroids", cents, classOf[CentroidSet].getName)

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression): NearestCells =
    copy(left = a, right = b, bias = c)

  override def prettyName: String = "nearest_cells"
}

/** [[NearestCells]] with the centroid matrix behind a `Broadcast` — the
  * beyond-[[CentroidSet.maxInlineLongs]] form: the matrix ships to each
  * executor ONCE (torrent blocks) and every task resolves it by id, instead
  * of riding serialized inside every task binary. Same kernel, bit-identical
  * output.
  */
case class NearestCellsBcast(left: Expression, right: Expression,
                             bc: org.apache.spark.broadcast.Broadcast[CentroidSet], m: Int,
                             bias: Expression = NearestCells.noBias) extends NearestCellsExpr {
  override protected def centroids: CentroidSet = bc.value
  override protected def centroidsCode(ctx: CodegenContext): String = {
    val bcRef = ctx.addReferenceObj("centroidsBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    s"(${classOf[CentroidSet].getName}) $bcRef.value()"
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression): NearestCellsBcast =
    copy(left = a, right = b, bias = c)

  override def prettyName: String = "nearest_cells_bcast"
}

object NearestCells {
  /** The empty bias: plain nearest-centroid distances. */
  def noBias: Expression = Literal(Array.emptyLongArray)

  /** Top-`m` nearest-cell ids of a (q, n2) row, optionally shifted by a
    * per-centroid `bias` array. Matrices within
    * [[CentroidSet.maxInlineLongs]] ride the plan directly; larger ones are
    * broadcast once per executor and resolved inside the kernel — same
    * arithmetic, same (d², id) ordering, different transport.
    */
  def nearestCellIds(q: Column, n2: Column, cents: Array[(Long, Array[Long], Long)], m: Int,
                     bias: Option[Column] = None): Column = {
    require(m >= 1, s"nearest-cell count must be >= 1, got m=$m")
    val set = CentroidSet(cents)
    val (l, r) = (GraftShim.expression(q), GraftShim.expression(n2))
    val b = bias.fold(noBias)(GraftShim.expression)
    if (set.longs <= CentroidSet.maxInlineLongs)
      GraftShim.column(NearestCells(l, r, set, m, b))
    else {
      val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(set)
      GraftShim.column(NearestCellsBcast(l, r, bc, m, b))
    }
  }

  /** Index in `cents` of one driver-side vector's nearest centroid — the
    * per-row kernel and (d², id) order, for driver-side assignment. */
  def nearestIndex(q: Array[Long], cents: Array[(Long, Array[Long], Long)]): Int = {
    val id = NearestCellsKernel.topCells(new GenericArrayData(q), 0L,
      new GenericArrayData(Array.emptyLongArray), CentroidSet(cents), 1).getLong(0)
    cents.indexWhere(_._1 == id)
  }
}

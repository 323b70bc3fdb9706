package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over pair frames (near-dup pairs, mutual k-NN edges):
  * importance scoring for data-selection — e.g. PageRank over the
  * similarity graph surfaces "hub" documents whose content a corpus
  * over-represents, complementing [[Dedup.dupClusters]]' connected
  * components (membership) with a per-node weight (centrality).
  */
object GraphOps {

  /** Fixed-iteration PageRank with INTEGER arithmetic — engine-exact.
    *
    * Ranks are fixed-point longs (`scale` = 1.0). Each round:
    * `r' = (15·scale) div 100 + (85 · Σ_in (r div deg)) div 100` — floor
    * division per term, so every intermediate is a positive long computed
    * identically by any engine (no float summation-order drift; doubles
    * lose exactness past 2^53, which `85 · Σ` here exceeds). Damping 0.85
    * is the standard public constant (Brin & Page 1998).
    *
    * Exactness precondition: `85 · maxInDegree · scale < 2^63` — i.e.
    * maxInDegree < ~1.08e5 at the default scale. Spark's non-ANSI `85 *
    * insum` silently wraps on overflow while strict engines raise, so the
    * engine-exactness claim holds only under this bound (the mutual-kNN
    * graphs this ships on are degree-bounded by k). Callers with hub-heavy
    * graphs should lower `scale` to fit. `scale` must be a multiple of 100
    * so the base term `15·scale/100` is exact.
    *
    * Undirected input: each pair `(a, b)` contributes both directed edges.
    * Isolated nodes (no edges) are out of scope — they'd hold the base
    * rank forever and never appear in a pair frame anyway.
    *
    * 100 TB posture: per round, one equi-join of the edge list with the
    * current rank vector (both keyed by source id — the shuffle reuses the
    * edge partitioning across rounds) and one hash aggregate keyed by
    * destination. The edge list is consumed `iters` times, so it is pinned
    * through [[CallCache]] and released after the checkpointed final
    * vector. High-degree hubs are map-side-combined by the partial
    * aggregate, not a hot reducer.
    *
    * Output: `id BIGINT, pr BIGINT` (fixed-point rank).
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
               iters: Int = 3, scale: Long = 1000000000000L): DataFrame =
    CallCache(pageRankPlan(_)(edges, aCol, bCol, iters, scale))

  /** The [[pageRank]] plan; `pin` marks the degree-joined edge list. Called
    * with `identity`, it is the whole lazy plan. */
  private[graft] def pageRankPlan(pin: CallCache.Pin)(
      edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 3, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale >= 100 && scale % 100 == 0,
      s"iters=$iters scale=$scale (scale must be a positive multiple of 100)")
    val dir = edges.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("t"))
      .unionByName(edges.select(col(bCol).cast("long").as("s"), col(aCol).cast("long").as("t")))
    val deg = dir.groupBy(col("s")).agg(count(lit(1)).as("d"))
    val e = pin(dir.join(deg, "s"))
    val base = scale * 15 / 100 // exact: scale % 100 == 0 is required above
    var r = deg.select(col("s").as("id"), lit(scale).as("r"))
    var it = 0
    while (it < iters) {
      r = e.join(r, e("s") === r("id"))
        .select(col("t"), expr("r div d").as("contrib"))
        .groupBy(col("t"))
        .agg(sum(col("contrib")).as("insum"))
        .select(col("t").as("id"),
          (lit(base) + expr("(85 * insum) div 100")).as("r"))
      it += 1
    }
    r.select(col("id"), col("r").cast("long").as("pr"))
  }
}

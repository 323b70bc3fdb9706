package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.spark.expressions.VectorFunctions.{dotq, normSq}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * All scores are computed over int64-QUANTIZED vectors (×1e6, rounded):
  * dot products and norms are then exact integer arithmetic, so
  * rankings are deterministic across engines, partitionings, and runs — a
  * float dot product's result depends on summation order, which breaks
  * reproducible top-k at scale. The final cosine is one IEEE division of
  * exact inputs.
  *
  * Scale paths: brute-force top-k is an intentionally-bounded
  * queries × corpus join (use for re-ranking candidate sets); the sign-LSH
  * bucketed variant prunes the corpus to one bucket per query via an
  * equi-join, the standard recall/throughput trade.
  *
  * The bucketed/IVF operators `.cache()` their shared intermediates (both
  * join sides read them); in a long-lived session, call
  * `spark.catalog.clearCache()` between unrelated workloads to release
  * them — the bench/verify harnesses already do.
  */
object Embeddings {

  /** Quantize an Array[Float] embedding to Array[Long] (×1e6). */
  def quantize(embedding: Column): Column =
    transform(embedding, x => round(x.cast("double") * 1000000).cast("long"))

  /** id, q (quantized vector), n2 (exact squared norm). Repartitions so the
    * vector kernels parallelize even off a single small parquet split. */
  def prepare(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(idCol), quantize(col(embCol)).as("q"))
      .withColumn("n2", normSq(col("q")))

  // native codegen kernel (LongArrayDot): a lambda aggregate(zip_with(...))
  // here is interpreted per element and dominates all-pairs scoring
  private def dot(a: Column, b: Column): Column = dotq(a, b)

  private def cosine(dotCol: Column, na: Column, nb: Column): Column =
    dotCol.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Exact top-k cosine neighbors for each row matching `queryPred`.
    * Deterministic: ranked by (cosine desc, neighbor id asc) over exact
    * integer dots. */
  def bruteForceTopK(prepared: DataFrame, idCol: String, k: Int, queryPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the pair join is a broadcast nested loop (non-equi condition): spread
    // the streamed side across the cluster first or it runs single-task
    val par = prepared.sparkSession.sessionState.conf.numShufflePartitions
    val q = prepared.filter(queryPred).repartition(par)
      .select(col(idCol).as("query_id"), col("q").as("qa"), col("n2").as("na"))
    val c = prepared.select(col(idCol).as("neighbor_id"), col("q").as("qb"), col("n2").as("nb"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** Near-duplicate pairs with cosine ≥ threshold (id_a < id_b). Brute-force
    * form: broadcasts the WHOLE corpus, so it is only for bounded candidate
    * sets (re-ranking); the scale path is [[nearDupPairsLSH]]. */
  def nearDupPairs(prepared: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val par = prepared.sparkSession.sessionState.conf.numShufflePartitions
    val a = prepared.select(col(idCol).as("id_a"), col("q").as("qa"), col("n2").as("na"))
      .repartition(par, col("id_a"))
    val b = prepared.select(col(idCol).as("id_b"), col("q").as("qb"), col("n2").as("nb"))
    // broadcast keeps this a BroadcastNestedLoopJoin (codegen) rather than a
    // CartesianProduct evaluating the scoring expression row-at-a-time; rows
    // stay narrow (id, vector, norm) and the dot is the native codegen kernel
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Near-duplicate pairs over sign-LSH candidates (id_a < id_b): only pairs
    * landing in the same LSH bucket are scored, so candidate generation is a
    * shuffled EQUI-JOIN on bucket id — never an all-pairs product or a
    * full-corpus broadcast — and the exact quantized cosine verifies the
    * survivors. This is the 100 TB form of [[nearDupPairs]]; recall is the
    * standard sign-LSH trade, tunable via `planes` (fewer planes → bigger
    * buckets → higher recall and more verify work).
    */
  def nearDupPairsLSH(prepared: DataFrame, idCol: String, threshold: Double,
                      planes: Int): DataFrame = {
    // each vector lives in exactly ONE bucket, so a same-bucket pair arises
    // exactly once — no candidate dedup pass needed (unlike banded minhash)
    val buckets = lshBucket(prepared, idCol, planes).cache()
    val a = buckets.select(col(idCol).as("id_a"), col("bucket"), col("q").as("qa"), col("n2").as("na"))
    val b = buckets.select(col(idCol).as("id_b"), col("bucket"), col("q").as("qb"), col("n2").as("nb"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Sign-LSH bucket id per vector: bit j = sign of ⟨hyperplane_j, q⟩ over
    * `planes` deterministic pseudo-random hyperplanes. Hyperplane component
    * h(plane, dim) = first md5 nibble of "plane:dim" mapped to the odd
    * integers {-15,…,15} (never zero → unambiguous signs; all-integer dots →
    * engine-portable buckets).
    *
    * The hyperplanes are driver-computable (planes×dim small constants), so
    * the bucket is a single per-row PROJECTION over inlined literals — a
    * fold of `planes` codegen dot kernels — with zero shuffle and zero row
    * expansion. The previous crossJoin(planes)+groupBy(id) formulation moved
    * planes × corpus bytes (full vectors) through a shuffle; at 100 TB that
    * amplification, not the arithmetic, was the cost.
    */
  def lshBucket(prepared: DataFrame, idCol: String, planes: Int): DataFrame = {
    val dim = prepared.select(size(col("q"))).head.getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def component(p: Int, d: Int): Long = {
      val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      val firstNibble = (hex(0) >> 4) & 0xf
      firstNibble.toLong * 2 - 15
    }
    val bucket = (0 until planes).map { p =>
      val pv = Array.tabulate(dim)(component(p, _))
      when(dotq(col("q"), typedLit(pv)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    prepared.select(col(idCol), bucket.as("bucket"), col("q"), col("n2"))
  }

  /** IVF (inverted-file) approximate top-k: the corpus is clustered into
    * `cells` Voronoi cells around deterministic sampled centroids (every
    * ⌊n/cells⌋-th id — at 100 TB swap in a k-means|| sample; the cell
    * assignment and search shape are identical), each vector is assigned to
    * its nearest centroid by exact quantized L2, and ranking runs only
    * within the query's cell (nprobe = 1). All distances are exact integer
    * arithmetic: d² = |v|² + |c|² − 2⟨v,c⟩ via the codegen dot kernel, so
    * assignments are engine-portable. Centroids are driver-collected; up to
    * `graft.ivf.inline.cells.max` (default 64) they're inlined as plan
    * literals, above that the matrix rides in one constant-size codegen
    * node ([[graft.spark.expressions.NearestCells]]) — either way a per-row
    * argmin with no assignment shuffle; the candidate join is an equi-join
    * on cell id.
    */
  def ivfTopK(prepared: DataFrame, idCol: String, k: Int, cells: Int,
              queryPred: Column): DataFrame =
    ivfTopKProbed(prepared, idCol, k, cells, queryPred, nprobe = 1)

  /** [[ivfTopK]] with the standard recall dial: each QUERY probes its
    * `nprobe` nearest cells; corpus vectors still live in exactly one cell,
    * so candidate volume (and cost) scales with nprobe/cells while recall
    * recovers neighbors that fall just across a Voronoi boundary. */
  /** Deterministic centroid sample, any id space. Two tiers:
    *
    * FAST PATH — dense ids from 0: every ⌊n/cells⌋-th id by value, one
    * filtered scan (this is the arithmetic the q36/q54 oracles restate).
    * Detected by the sample coming back complete (`min(cells, n)` rows);
    * sparse or gapped ids undersample the modulus filter and fall through.
    *
    * GENERAL PATH — every ⌊n/cells⌋-th row by ID RANK
    * (`sortBy(id).zipWithIndex`): layout-independent and deterministic on
    * ANY id space, and under an order-preserving id remap it selects
    * exactly the rows the dense path selects (rank k·m has id k·m when ids
    * are dense — the PipelineSpec parity gate). Costs one range shuffle of
    * the prepared (id, q, |v|²) projection — the same size class as a
    * single Lloyd iteration of [[trainCentroids]]; corpora too large to
    * range-shuffle even once swap in a k-means|| sample here, as the class
    * doc notes.
    *
    * Returns (cell id, quantized centroid, |c|²). */
  def sampleCentroids(prepared: DataFrame, idCol: String, cells: Int): Array[(Long, Array[Long], Long)] =
    sampleCentroids(prepared, idCol, cells, None)

  /** [[sampleCentroids]] with a caller-supplied row count: operators that
    * sample twice off the same cached corpus (coarse cells + PQ codebooks —
    * the q117/q121/q122 shape) pay ONE count job instead of one per sample
    * (guide §5: the driver section — fewer sequential driver round-trips). */
  def sampleCentroids(prepared: DataFrame, idCol: String, cells: Int,
                      knownN: Option[Long]): Array[(Long, Array[Long], Long)] = {
    val n = knownN.getOrElse(prepared.count()) // one metadata-scale job; estimate via stats at scale
    val m = math.max(n / cells, 1L)
    val dense = prepared
      .filter(col(idCol) % m === 0 && col(idCol) < m * cells)
      .select(expr(s"$idCol DIV $m").as("c"), col("q").as("cq"), col("n2").as("cn2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    if (dense.length == math.min(cells.toLong, n)) dense
    else {
      val cents = prepared
        .select(col(idCol).cast("long"), col("q"), col("n2")).rdd
        .sortBy(_.getLong(0))
        .zipWithIndex()
        .flatMap { case (row, pos) =>
          if (pos % m == 0 && pos < m * cells)
            Some((pos / m, row.getSeq[Long](1).toArray, row.getLong(2)))
          else None
        }
        .collect()
        .sortBy(_._1)
      require(cents.nonEmpty, s"no centroids sampled (n=$n, cells=$cells)")
      cents
    }
  }

  /** Per-row nearest-cell argmin expression over inlined centroid literals:
    * an array of exact (d², c) structs sorted ascending — struct ordering
    * gives the (distance asc, c asc) tie-break — entirely inside codegen,
    * no n×cells crossJoin shuffle, no window. */
  private def rankedCellsExpr(cents: Array[(Long, Array[Long], Long)]): Column =
    array_sort(array(cents.map { case (cid, cq, cn2) =>
      struct((col("n2") + lit(cn2) - lit(2L) * dotq(col("q"), typedLit(cq))).as("d2"),
        lit(cid).as("c"))
    }.toSeq: _*))

  /** Literal inlining is ideal while the plan stays small, but plan size and
    * per-row codegen cost grow linearly with cells; above this threshold the
    * centroid matrix moves out of the plan into a single
    * [[graft.spark.expressions.NearestCells]] node (constant plan size,
    * same exact arithmetic). Overridable for tests/tuning. */
  private def inlineCellsMax: Int =
    graft.core.SysProps.int("graft.ivf.inline.cells.max", 64, min = 0)

  /** Array of the `m` nearest cell ids by (d² asc, id asc) for the current
    * row's (q, n2) — both paths produce bit-identical results; neither
    * shuffles, windows, or joins: one projection expression per row. */
  private def rankedCellIds(cents: Array[(Long, Array[Long], Long)], m: Int): Column =
    if (cents.length <= inlineCellsMax)
      slice(rankedCellsExpr(cents), 1, math.min(m, cents.length)).getField("c")
    else
      graft.spark.expressions.NearestCells.nearestCellIds(col("q"), col("n2"), cents, m)

  /** Lloyd's k-means refinement of the IVF centroids (the trained-centroid
    * scale path the sampled variant documents): starts from the
    * deterministic sample, then each iteration assigns every vector to its
    * nearest centroid (per-row argmin, one map — no shuffle) and recomputes
    * cell means (one hash aggregate over (cell, dimension)). Means are
    * re-quantized by `⌊x + 0.5⌋` rounding, so training is deterministic
    * across partitionings and engines; empty cells keep their previous
    * centroid — or, with `reseedEmpty`, RESEED deterministically: empty
    * cell #r (ascending cell id) takes the r-th farthest-from-its-assigned-
    * centroid row (d² desc, id asc) as its new centroid, the standard
    * k-means empty-cluster repair that lets training escape a collapsed
    * initialization (a stride sample landing every centroid in one hot
    * cluster leaves pure Lloyd stuck: a cell that starts empty can never
    * acquire rows through mean updates alone). The reseed pass costs one
    * extra top-#empty job per iteration that has empty cells, nothing
    * otherwise.
    */
  def trainCentroids(prepared: DataFrame, idCol: String, cells: Int,
                     iters: Int, reseedEmpty: Boolean = false,
                     initial: Option[Array[(Long, Array[Long], Long)]] = None): Array[(Long, Array[Long], Long)] = {
    var cents = initial.getOrElse(sampleCentroids(prepared, idCol, cells))
    val dim = cents.head._2.length
    for (_ <- 1 to iters) {
      val assign = element_at(rankedCellIds(cents, 1), 1)
      // per-cell dim-array of sums in ONE hash aggregate: dim sum columns,
      // map-side combined, at most `cells` result rows — no n×dim posexplode
      // row expansion, and the driver collect is cells rows (not cells×dim).
      // EXACT Long sums + counts (not avg(): its Double accumulator goes
      // order-dependent past 2^53, breaking cross-partitioning determinism);
      // the mean is then ONE IEEE division of exact inputs on the driver.
      val aggDf = prepared.withColumn("__c", assign)
        .groupBy(col("__c"))
        .agg(count(lit(1)).as("cnt"),
          array((0 until dim).map(i => sum(element_at(col("q"), i + 1))): _*).as("s"))
      // With reseeding on, the reseed candidates — the globally farthest
      // rows from their assigned PRE-update centroid, enough for ANY number
      // of empty cells (≤ cells) — ride the SAME collect action as a
      // speculative union branch, so an iteration with empty cells pays ONE
      // driver round-trip instead of two sequential jobs (guide §5; the
      // TakeOrdered branch re-reads the cached corpus inside the same job).
      // d² is recomputed from the assignment's cell id via ONE literal
      // matrix lookup (d² = n2 + |c|² − 2⟨q,c⟩), so plan size stays
      // constant in `cells` like the guarded assignment path
      // (rankedCellsExpr here would inline cells× struct expressions,
      // bypassing the inlineCellsMax guard — review finding r18)
      val nullArr = lit(null).cast("array<bigint>")
      val rows =
        if (!reseedEmpty)
          aggDf.select(lit(0).as("tag"), col("__c").as("c"), col("cnt"), col("s"),
            nullArr.as("q"), lit(0L).as("n2"), lit(0L).as("d2"), lit(0L).as("id")).collect()
        else {
          val cellIdx = assign.cast("int") + 1
          val d2 = col("n2") +
            element_at(typedLit(cents.map(_._3).toSeq), cellIdx) -
            lit(2L) * dotq(col("q"),
              element_at(typedLit(cents.map(_._2.toSeq).toSeq), cellIdx))
          val far = prepared
            .select(col(idCol).cast("long").as("__id"), col("q"), col("n2"),
              d2.as("__d2"))
            .orderBy(col("__d2").desc, col("__id").asc)
            .limit(cents.length)
            .select(lit(1).as("tag"), lit(0L).as("c"), lit(0L).as("cnt"),
              nullArr.as("s"), col("q"), col("n2"), col("__d2").as("d2"),
              col("__id").as("id"))
          aggDf.select(lit(0).as("tag"), col("__c").as("c"), col("cnt"), col("s"),
              nullArr.as("q"), lit(0L).as("n2"), lit(0L).as("d2"), lit(0L).as("id"))
            .unionByName(far).collect()
        }
      val byCell = rows.filter(_.getInt(0) == 0)
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getSeq[Long](3).toArray)))
        .toMap
      val emptyCells = cents.map(_._1).filterNot(byCell.contains).sorted
      val reseeds: Map[Long, (Array[Long], Long)] =
        if (!reseedEmpty || emptyCells.isEmpty) Map.empty
        else {
          // union output order is not defined — restore the (d² desc, id
          // asc) total order driver-side before taking the reseed prefix
          val far = rows.filter(_.getInt(0) == 1)
            .map(r => (r.getSeq[Long](4).toArray, r.getLong(5), r.getLong(6), r.getLong(7)))
            .sortBy { case (_, _, d2v, idv) => (-d2v, idv) }
            .map { case (q, n2, _, _) => (q, n2) }
          // fewer rows than empty cells (corpus smaller than `cells`): the
          // unmatched tail keeps carrying its previous centroid
          emptyCells.zip(far).map { case (cid, qn) => cid -> qn }.toMap
        }
      cents = cents.map { case (cid, oldQ, _) =>
        reseeds.get(cid) match {
          case Some((q, n2)) => (cid, q, n2)
          case None =>
            val nq = byCell.get(cid) match {
              case Some((cnt, sums)) =>
                Array.tabulate(oldQ.length)(i => math.round(sums(i).toDouble / cnt))
              case None => oldQ
            }
            (cid, nq, nq.iterator.map(x => x * x).sum)
        }
      }
    }
    cents
  }

  def ivfTopKProbed(prepared: DataFrame, idCol: String, k: Int, cells: Int,
                    queryPred: Column, nprobe: Int): DataFrame =
    searchCells(prepared, idCol, k, queryPred, nprobe,
      sampleCentroids(prepared, idCol, cells))

  /** [[ivfTopKProbed]] with k-means-trained centroids: tighter Voronoi
    * cells → better recall at the same nprobe when the corpus is clustered
    * (the data-dependent case where id-sampled centroids mis-bin). */
  def ivfTopKTrained(prepared: DataFrame, idCol: String, k: Int, cells: Int,
                     queryPred: Column, nprobe: Int, trainIters: Int = 3): DataFrame = {
    val cached = prepared.cache() // training iterates over it; search reuses
    searchCells(cached, idCol, k, queryPred, nprobe,
      trainCentroids(cached, idCol, cells, trainIters))
  }

  private def searchCells(prepared: DataFrame, idCol: String, k: Int,
                          queryPred: Column, nprobe: Int,
                          cents: Array[(Long, Array[Long], Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both join sides (corpus assignment + query probes) need the ranked
    // cells — compute the cells × dots once and cache, like the LSH path
    val withCells = prepared.withColumn("__cells", rankedCellIds(cents, nprobe)).cache()
    val assigned = withCells.withColumn("c", element_at(col("__cells"), 1))
    // probe list only materializes on QUERY rows (filter first, then explode)
    val q = withCells.filter(queryPred)
      .select(col(idCol).as("query_id"),
        explode(col("__cells")).as("c"),
        col("q").as("qa"), col("n2").as("na"))
    val c = assigned.select(col(idCol).as("neighbor_id"), col("c"), col("q").as("qb"), col("n2").as("nb"))
    val scored = q.join(c, Seq("c")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  // ---- product quantization (Jégou, Douze & Schmid 2011,
  //      "Product Quantization for Nearest Neighbor Search") ----

  /** Per-subspace PQ codebooks from the [[sampleCentroids]] deterministic
    * id-strided sample: codeword c of subspace j is dims [j·d/m, (j+1)·d/m)
    * of sampled vector c — reproducible across engines and partitionings
    * (per-subspace Lloyd refinement belongs to [[trainCentroids]]' scale
    * path and is deliberately not replicated here). Returns (d, d/m,
    * per-subspace array of (codeword subvector, its squared norm)). */
  private def pqCodebooks(prepared: DataFrame, idCol: String, m: Int, k: Int,
                          knownN: Option[Long] = None)
      : (Int, Int, Array[Array[(Array[Long], Long)]]) = {
    val cents = sampleCentroids(prepared, idCol, k, knownN)
    val d = cents.head._2.length
    require(m > 0 && d % m == 0, s"subspaces ($m) must divide the dimension ($d)")
    val sub = d / m
    val books = Array.tabulate(m) { j =>
      cents.map { case (_, q, _) =>
        val cw = q.slice(j * sub, (j + 1) * sub)
        (cw, cw.map(x => x * x).sum)
      }
    }
    (d, sub, books)
  }

  /** PQ-encode every vector: d quantized longs collapse to `m` small codes
    * (argmin exact integer L2 against each subspace codebook, ties to the
    * lowest codeword id) — 64 dims → 8 bytes-ish per vector, the memory
    * step that makes billion-vector ANN fit an executor fleet. Zero
    * shuffle: the codebooks ride the plan as literals (m·k·d/m longs — a
    * few KB), encoding is one projection; subvectors and their norms are
    * staged ONCE per row (the q96 planning rule) so the k codeword
    * distances reuse them. Emits (idCol, pq_codes ARRAY<INT>). */
  def pqEncode(prepared: DataFrame, idCol: String, m: Int = 8, k: Int = 16): DataFrame =
    pqEncodeWith(prepared, idCol, pqCodebooks(prepared, idCol, m, k), m)

  private def pqEncodeWith(prepared: DataFrame, idCol: String,
                           books: (Int, Int, Array[Array[(Array[Long], Long)]]),
                           m: Int, carry: Seq[String] = Nil): DataFrame = {
    val (_, sub, cb) = books
    val staged = prepared.select((col(idCol) +: carry.map(col)) ++
      (0 until m).flatMap { j =>
        val s = slice(col("q"), j * sub + 1, sub)
        Seq(s.as(s"__s$j"), normSq(s).as(s"__n$j"))
      }: _*)
    val codes = (0 until m).map { j =>
      // exact (d², c) structs sorted ascending — struct ordering gives the
      // (distance asc, codeword asc) tie-break inside codegen (the
      // rankedCellsExpr pattern)
      element_at(array_sort(array(cb(j).zipWithIndex.map { case ((cw, cn2), c) =>
        struct((col(s"__n$j") + lit(cn2) - lit(2L) * dotq(col(s"__s$j"), typedLit(cw.toSeq))).as("d2"),
          lit(c).as("c"))
      }.toSeq: _*)), 1).getField("c")
    }
    staged.select(col(idCol) +: carry.map(col) :+ array(codes: _*).as("pq_codes"): _*)
  }

  /** Approximate top-k by PQ ASYMMETRIC distance (ADC): each query keeps
    * its exact subvectors, every corpus vector only its `m` codes;
    * distance = Σ_j ‖query_j − codeword(code_j)‖² in exact BIGINT
    * arithmetic, so ranking is engine-reproducible (ties → neighbor id
    * asc). The corpus side streams m ints instead of d longs — the PQ
    * memory win — against a BROADCAST query side (query sets are
    * corpus-tiny), then the per-query top-k window (the q26 shape,
    * WindowGroupLimit-bounded). */
  def pqTopK(prepared: DataFrame, idCol: String, topK: Int, queryPred: Column,
             m: Int = 8, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val books = pqCodebooks(prepared, idCol, m, k)
    val (_, sub, cb) = books
    val par = prepared.sparkSession.sessionState.conf.numShufflePartitions
    val coded = pqEncodeWith(prepared, idCol, books, m)
      .select(col(idCol).as("neighbor_id"), col("pq_codes"))
      .repartition(par, col("neighbor_id"))
    val queries = prepared.filter(queryPred)
      .select(col(idCol).as("query_id") +: (0 until m).flatMap { j =>
        val s = slice(col("q"), j * sub + 1, sub)
        Seq(s.as(s"__qs$j"), normSq(s).as(s"__qn$j"))
      }: _*)
    val dist = (0 until m).map { j =>
      val code = element_at(col("pq_codes"), j + 1)
      val cw = element_at(typedLit(cb(j).map(_._1.toSeq).toSeq), code + 1)
      val cn2 = element_at(typedLit(cb(j).map(_._2).toSeq), code + 1)
      col(s"__qn$j") + cn2 - lit(2L) * dotq(col(s"__qs$j"), cw)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    coded.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("adc_dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Size-1 cache registry for the PQ/IVF index builders' prepared corpus.
    * Repeat invocations on the SAME corpus (dashboards re-issuing a query,
    * the bench's iterations, varied cells/nprobe TVF args that miss the
    * memo) reuse one cached copy; a DIFFERENT corpus unpersists the
    * previous one, bounding pinned storage at a single corpus however many
    * tables a long-lived session touches (ADVICE r17 #3, settled by two
    * r18 A/B measurements: unpersist-before-materialize re-scanned the
    * corpus per consumer — 1.6× q121 CPU — and eager localCheckpoint paid
    * two extra materialization jobs per call — 1.4×; reuse-with-bounded-
    * pinning is the only variant that is both fast and leak-free). A
    * `spark.catalog.clearCache()` (the bench/verify per-query hygiene)
    * drops the entry; [[GraftShim.planIsCached]] detects that and the next
    * call re-caches instead of silently recomputing per consumer. */
  private[this] val ivfCorpus =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private[graft] def cacheCorpus(prepared: DataFrame): DataFrame = ivfCorpus.synchronized {
    val cur = ivfCorpus.get()
    val alive = cur != null && !cur.sparkSession.sparkContext.isStopped
    if (alive && (cur.sparkSession eq prepared.sparkSession) &&
        cur.queryExecution.analyzed.sameResult(prepared.queryExecution.analyzed) &&
        org.apache.spark.sql.GraftShim.planIsCached(cur)) cur
    else {
      if (alive) scala.util.Try(cur.unpersist())
      val c = prepared.cache()
      ivfCorpus.set(c)
      c
    }
  }

  /** IVFADC (Jégou, Douze & Schmid 2011 §IV — the billion-vector search
    * shape): the corpus is binned into IVF Voronoi cells AND collapsed to
    * PQ codes, a query probes only its `nprobe` nearest cells, and ADC
    * ranks the candidates within them. [[pqTopK]] is plain ADC — every
    * query scans EVERY corpus code (right memory story, linear compute);
    * this composes it with [[ivfTopK]]'s coarse quantizer so per-query
    * compute drops to ~nprobe/cells of the corpus (VERDICT r16 #3).
    *
    * Scale shape: the corpus index is ONE zero-shuffle projection emitting
    * (id, cell, m codes) — cell assignment is the per-row argmin over
    * inlined centroid literals, encoding the per-subspace argmin over
    * literal codebooks; the candidate step is a broadcast EQUI-join on
    * cell id against the exploded query probes (queries are corpus-tiny),
    * never a corpus-wide nested loop. Distances stay exact BIGINT (the
    * pqTopK ADC contract), so the DuckDB oracle replays every cell
    * assignment, code, and ranking bit-for-bit; recall follows the
    * standard nprobe/cells dial. */
  def pqTopKIVF(prepared: DataFrame, idCol: String, topK: Int, queryPred: Column,
                cells: Int = 8, nprobe: Int = 2, m: Int = 8, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // four consumers read the prepared frame (coarse sample, codebook
    // sample, corpus encode, query probes): one cached corpus copy via the
    // size-1 [[cacheCorpus]] registry — reused across invocations on the
    // same corpus, released when a different corpus arrives
    val cached = cacheCorpus(prepared)
    // ONE count job shared by the coarse sample and the codebook sample
    // (guide §5 driver round-trips); the count also fills the cache
    val n = cached.count()
    val cents = sampleCentroids(cached, idCol, cells, Some(n))
    val books = pqCodebooks(cached, idCol, m, k, Some(n))
    val (_, sub, cb) = books
    // corpus index: (neighbor_id, cell, pq_codes) — at rest this is the
    // m-codes-per-vector memory footprint plus one small int; `prepare`
    // already spread the corpus, so no extra shuffle here
    val coded = pqEncodeWith(
        cached.withColumn("__cell", element_at(rankedCellIds(cents, 1), 1)),
        idCol, books, m, carry = Seq("__cell"))
      .select(col(idCol).as("neighbor_id"), col("__cell").as("c"), col("pq_codes"))
    // query side: nprobe probe rows per query, each carrying the staged
    // exact subvectors + norms the ADC distance reuses per subspace
    val queries = cached.filter(queryPred)
      .withColumn("__probes", rankedCellIds(cents, nprobe))
      .select(col(idCol).as("query_id") +: explode(col("__probes")).as("c") +:
        (0 until m).flatMap { j =>
          val s = slice(col("q"), j * sub + 1, sub)
          Seq(s.as(s"__qs$j"), normSq(s).as(s"__qn$j"))
        }: _*)
    val dist = (0 until m).map { j =>
      val code = element_at(col("pq_codes"), j + 1)
      val cw = element_at(typedLit(cb(j).map(_._1.toSeq).toSeq), code + 1)
      val cn2 = element_at(typedLit(cb(j).map(_._2).toSeq), code + 1)
      col(s"__qn$j") + cn2 - lit(2L) * dotq(col(s"__qs$j"), cw)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    coded.join(broadcast(queries), Seq("c")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("adc_dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Nearest trained centroid for one driver-side vector: argmin of
    * |c|² − 2⟨q,c⟩ (the |q|² term is constant), ties to the lowest cell id —
    * the same ordering the per-row codegen argmin uses. */
  private def nearestCentroid(cents: Array[(Long, Array[Long], Long)],
                              q: Array[Long]): Array[Long] =
    cents.minBy { case (cid, cq, cn2) =>
      (cn2 - 2L * q.iterator.zip(cq.iterator).map { case (a, b) => a * b }.sum, cid)
    }._2

  /** Per-subspace PQ codebooks over coarse-quantizer RESIDUALS (Jégou 2011
    * §IV): codeword c of subspace j is dims [j·d/m, (j+1)·d/m) of
    * (sample_c − centroid(cell(sample_c))) — the residual of the c-th
    * id-strided sample against its own nearest TRAINED centroid. Residual
    * codebooks spend their quantization resolution on the within-cell
    * displacement instead of re-encoding the coarse component raw vectors
    * waste it on. All driver-side (k samples × cells distances), exact
    * integers throughout. */
  private def pqResidualCodebooks(prepared: DataFrame, idCol: String, m: Int, k: Int,
                                  cents: Array[(Long, Array[Long], Long)],
                                  knownN: Option[Long] = None)
      : (Int, Int, Array[Array[(Array[Long], Long)]]) = {
    val samples = sampleCentroids(prepared, idCol, k, knownN)
    val d = samples.head._2.length
    require(m > 0 && d % m == 0, s"subspaces ($m) must divide the dimension ($d)")
    val sub = d / m
    val resid = samples.map { case (_, q, _) =>
      val c = nearestCentroid(cents, q)
      Array.tabulate(d)(i => q(i) - c(i))
    }
    val books = Array.tabulate(m) { j =>
      resid.map { r =>
        val cw = r.slice(j * sub, (j + 1) * sub)
        (cw, cw.map(x => x * x).sum)
      }
    }
    (d, sub, books)
  }

  /** Jégou-faithful IVFADC (2011 §IV, the full design point): the coarse
    * quantizer is LLOYD-TRAINED (with deterministic empty-cell reseeding,
    * so a collapsed stride sample still yields balanced Voronoi cells —
    * the data-dependent case where [[pqTopKIVF]]'s id-strided centroids
    * land most of the corpus in one hot cell and erase the nprobe/cells
    * compute saving), and PQ codes quantize per-cell RESIDUALS
    * (x − centroid(cell(x))) instead of raw vectors, holding recall on
    * clustered distributions (VERDICT r17 #3).
    *
    * Scale shape unchanged from [[pqTopKIVF]]: the corpus index is one
    * zero-shuffle projection emitting (id, cell, m codes) — the residual
    * never materializes per row; encoding argmin uses the identity
    * ‖r_j − cw‖² = ‖r_j‖² + ‖cw‖² − 2(⟨q_j,cw⟩ − ⟨c_j,cw⟩), where the
    * ⟨centroid_j, codeword⟩ table (cells × m × k longs) is driver-computed
    * and rides the plan as literals, so per subspace the row pays ONE
    * codegen dot kernel per codeword plus constant lookups. Query-side ADC
    * reconstructs the residual distance per probed cell the same way. The
    * candidate step stays a broadcast EQUI-join on cell id; everything is
    * exact BIGINT, so the DuckDB oracle replays training (including
    * reseeds), assignment, residual codes, and ADC bit-for-bit. */
  def pqTopKIVFTrained(prepared: DataFrame, idCol: String, topK: Int, queryPred: Column,
                       cells: Int = 8, nprobe: Int = 2, m: Int = 8, k: Int = 16,
                       trainIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one cached corpus copy via the size-1 [[cacheCorpus]] registry, shared
    // by training's repeated passes, the two sampling collects, the encode,
    // and the probe side (the pqTopKIVF convention)
    val cellIdx = col("c").cast("int") + 1
    val cached = cacheCorpus(prepared)
    // ONE count job shared by the training init sample and the codebook
    // sample (guide §5 driver round-trips); the count also fills the cache
    val n = cached.count()
    val cents = trainCentroids(cached, idCol, cells, trainIters, reseedEmpty = true,
      initial = Some(sampleCentroids(cached, idCol, cells, Some(n))))
    val books = pqResidualCodebooks(cached, idCol, m, k, cents, Some(n))
    require(cents.map(_._1).toSeq == (0L until cents.length.toLong),
      "coarse cells must be consecutively numbered from 0 (sampleCentroids contract)")
    val (_, sub, cb) = books
    // driver literal tables, indexed by cell id then (for D) codeword:
    //   centSubs(j)(cell) = centroid subvector,  cc2(j)(cell) = its |·|²,
    //   dTab(j)(cw)(cell) = ⟨centroid_j(cell), codeword⟩
    val centSubs: Array[Seq[Seq[Long]]] = Array.tabulate(m)(j =>
      cents.map(_._2.slice(j * sub, (j + 1) * sub).toSeq).toSeq)
    val cc2: Array[Seq[Long]] = Array.tabulate(m)(j =>
      centSubs(j).map(cs => cs.iterator.map(x => x * x).sum))
    val dTab: Array[Array[Seq[Long]]] = Array.tabulate(m)(j =>
      cb(j).map { case (cw, _) =>
        centSubs(j).map(cs => cs.iterator.zip(cw.iterator).map { case (a, b) => a * b }.sum)
      })
    // corpus index: (neighbor_id, cell, residual pq codes) in ONE projection
    val staged = cached.select(col(idCol).as("neighbor_id") +:
      element_at(rankedCellIds(cents, 1), 1).as("c") +:
      (0 until m).map(j => slice(col("q"), j * sub + 1, sub).as(s"__s$j")): _*)
    val codes = (0 until m).map { j =>
      // argmin over codewords of ‖r_j − cw‖² minus its row-constant ‖r_j‖²
      // term: |cw|² − 2(⟨q_j,cw⟩ − D(cell,j,cw)) — ties (equal distance) to
      // the lowest codeword id, identical to the raw-vector PQ convention
      element_at(array_sort(array(cb(j).zipWithIndex.map { case ((cw, cn2), cwi) =>
        struct((lit(cn2) - lit(2L) * (dotq(col(s"__s$j"), typedLit(cw.toSeq)) -
          element_at(typedLit(dTab(j)(cwi)), cellIdx))).as("d2"),
          lit(cwi).as("c"))
      }.toSeq: _*)), 1).getField("c")
    }
    val coded = staged.select(col("neighbor_id"), col("c"), array(codes: _*).as("pq_codes"))
    // query side: nprobe probe rows per query; the residual is per probe
    // CELL, so the ADC distance reconstructs it from the staged raw
    // subvectors + per-cell literal lookups
    val queries = cached.filter(queryPred)
      .withColumn("__probes", rankedCellIds(cents, nprobe))
      .select(col(idCol).as("query_id") +: explode(col("__probes")).as("c") +:
        (0 until m).flatMap { j =>
          val s = slice(col("q"), j * sub + 1, sub)
          Seq(s.as(s"__qs$j"), normSq(s).as(s"__qn$j"))
        }: _*)
    val dist = (0 until m).map { j =>
      // ‖(q_j − c_j) − cw‖² = (|q_j|² + |c_j|² − 2⟨q_j,c_j⟩)
      //                      + |cw|² − 2⟨q_j,cw⟩ + 2⟨c_j,cw⟩
      val code = element_at(col("pq_codes"), j + 1)
      val cw = element_at(typedLit(cb(j).map(_._1.toSeq).toSeq), code + 1)
      val cn2 = element_at(typedLit(cb(j).map(_._2).toSeq), code + 1)
      val dcw = element_at(element_at(typedLit(dTab(j).map(_.toSeq).toSeq), code + 1), cellIdx)
      val qc = dotq(col(s"__qs$j"), element_at(typedLit(centSubs(j)), cellIdx))
      val ccn = element_at(typedLit(cc2(j)), cellIdx)
      col(s"__qn$j") + ccn - lit(2L) * qc +
        cn2 - lit(2L) * dotq(col(s"__qs$j"), cw) + lit(2L) * dcw
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    coded.join(broadcast(queries), Seq("c")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("adc_dist"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * diversified top-k around one probe vector. Greedy: repeatedly pick the
    * candidate maximizing λ·rel(d) − (1−λ)·max_{s∈picked} cos(d, s)
    * (empty-set max = 0, ties to the lower id), where rel is exact cosine
    * to the probe. λ=1 degenerates to pure relevance ranking; lower λ
    * trades relevance for novelty — the standard diversified-retrieval /
    * diverse-exemplar-selection combiner.
    *
    * Scale shape: this is the documented BOUNDED RE-RANK exception (the
    * [[nearDupPairs]] contract) — the corpus pass lives in the candidate
    * retriever ([[bruteForceTopK]] here; any ANN list works upstream), and
    * the greedy runs driver-side over the k0-bounded candidate set
    * (k0 × dim quantized longs — model-scale; k0·topK score updates).
    * Deterministic and engine-replayable: integer dots, one double
    * division per cosine, and the same λ-arithmetic the DuckDB oracle's
    * recursive CTE replays step for step. */
  def mmrRerank(prepared: DataFrame, idCol: String, queryPred: Column,
                k0: Int = 50, topK: Int = 10, lambda: Double = 0.5): DataFrame = {
    require(k0 >= topK && topK >= 1, s"need k0 >= topK >= 1: k0=$k0 topK=$topK")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val spark = prepared.sparkSession
    // three consumers (retriever query side, retriever corpus side, the
    // candidate-vector fetch) — cache for ONE corpus pass; everything here
    // is eagerly collected, so the cache releases before returning and the
    // result frame carries no lineage on it
    val cached = prepared.cache()
    val (rel, vecs) = try {
      val candRows = bruteForceTopK(cached, idCol, k0, queryPred)
        .select(col("query_id"), col("neighbor_id"), col("cos")).collect()
      val qids = candRows.map(_.getLong(0)).distinct
      require(qids.length == 1, s"mmrRerank re-ranks ONE probe's candidate " +
        s"list; found ${qids.length} distinct probes among the candidate rows " +
        "(empty = queryPred matched nothing, or the corpus has no neighbors)")
      val rel0: Map[Long, Double] =
        candRows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      // candidate vectors: k0 rows of (quantized vector, norm) — model-scale
      val vecs0: Map[Long, (Array[Long], Long)] = cached
        .filter(col(idCol).isin(rel0.keys.toSeq: _*))
        .select(col(idCol), col("q"), col("n2")).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2))).toMap
      (rel0, vecs0)
    } finally cached.unpersist()
    // cosine is undefined on a zero vector, and NaN scores would break the
    // bit-for-bit oracle replay (Spark's greedy skips NaN where SQL DESC
    // sorts it first) — reject loudly instead of ranking garbage
    vecs.collectFirst { case (id, (_, n2)) if n2 == 0L => id }.foreach(id =>
      throw new IllegalArgumentException(
        s"mmrRerank: candidate $id has a zero-norm embedding (cosine undefined)"))
    require(rel.values.forall(c => !c.isNaN),
      "mmrRerank: NaN relevance (zero-norm probe embedding?)")
    val ids = rel.keys.toSeq.sorted
    def cosOf(a: Long, b: Long): Double = {
      val (qa, na) = vecs(a); val (qb, nb) = vecs(b)
      var i = 0; var d = 0L
      while (i < qa.length) { d += qa(i) * qb(i); i += 1 }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val maxSim = scala.collection.mutable.HashMap.empty[Long, Double]
    val remaining = scala.collection.mutable.ArrayBuffer(ids: _*) // ascending
    while (picked.length < math.min(topK, ids.length)) {
      // strict > over ascending ids keeps the LOWEST id on score ties
      var best = remaining.head
      var bestScore = Double.NegativeInfinity
      remaining.foreach { d =>
        val s = lambda * rel(d) - (1.0 - lambda) * maxSim.getOrElse(d, 0.0)
        if (s > bestScore) { best = d; bestScore = s }
      }
      picked += best
      remaining -= best
      remaining.foreach { d =>
        val c = cosOf(d, best)
        if (!maxSim.contains(d) || c > maxSim(d)) maxSim(d) = c
      }
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case (d, i) => (d, (i + 1).toLong, rel(d)) }
      .toDF(idCol, "rnk", "rel_cos")
  }

  /** ColBERT-style LATE-INTERACTION retrieval (Khattab & Zaharia 2020,
    * MaxSim): score(q, d) = Σ over query-token instances of the MAX dot
    * product against any document token — token-level matching that
    * rewards a document covering every query term, where a single pooled
    * vector blurs them together. The per-token encoder is a deterministic
    * md5-slice stand-in (eight centered 16-bit lanes), so the interaction
    * arithmetic is exact integers and the ranking replays bit-for-bit on
    * any engine — swap `embed` for a served token-encoder column and the
    * operator is the production shape unchanged.
    *
    * Scale shape: document tokens are bounded per doc (`maxDocTokens`) and
    * DEDUPED (max over a set equals max over the multiset); the query side
    * is bounded and broadcast, so the interaction join is
    * |doc tokens| × |query tokens| through the dotq codegen kernel — never
    * doc × doc — followed by two map-side-combining aggregations and a
    * per-query top-k window. */
  def maxSimTopK(docs: DataFrame, idCol: String, textCol: String,
                 queries: Seq[(String, String)], topK: Int,
                 maxDocTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && topK >= 1, "need at least one query and topK >= 1")
    val spark = docs.sparkSession
    import spark.implicits._

    // deterministic 8-lane token encoder: md5 hex → eight 16-bit slices,
    // centered at zero — exact BIGINT lanes both engines compute identically
    def embed(tok: Column): Column = array((0 until 8).map(i =>
      conv(substring(md5(tok), 1 + 4 * i, 4), 16, 10).cast("long") - 32768L): _*)

    // re-spread AFTER the distinct (r18): its shuffle output is bytes-tiny
    // (two narrow columns), so AQE coalesces it toward ONE partition — and
    // the expensive downstream stage (8-lane embed × per-query-token
    // interaction join × max/sum aggregates) then ran single-task
    // (measured 3.4 CPU-s serial = ~75 % of the query's wall). Hashing by
    // id restores width for compute the byte-based coalescing can't see.
    val par = spark.sessionState.conf.numShufflePartitions
    val dt = docs
      .select(col(idCol),
        explode(slice(TextOps.tokens(col(textCol)), 1, maxDocTokens)).as("tok"))
      .distinct()
      .repartition(par, col(idCol))
      .select(col(idCol), embed(col("tok")).as("dv"))

    // positional query tokens: a repeated query term contributes once per
    // INSTANCE (the ColBERT sum), keyed by position, not token identity
    val qt = queries.toDF("qid", "qtext")
      .select(col("qid"), posexplode(TextOps.tokens(col("qtext"))).as(Seq("qpos", "qtok")))
      .select(col("qid"), col("qpos"), embed(col("qtok")).as("qv"))

    // bounded broadcast interaction join (query tokens ≪ corpus)
    val dots = dt.crossJoin(broadcast(qt))
      .select(col("qid"), col("qpos"), col(idCol), dotq(col("qv"), col("dv")).as("dp"))
    dots
      .groupBy(col("qid"), col("qpos"), col(idCol)).agg(max(col("dp")).as("m"))
      .groupBy(col("qid"), col(idCol)).agg(sum(col("m")).as("maxsim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("maxsim").desc, col(idCol).asc)).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk"), col(idCol), col("maxsim"))
  }

  /** Corpus → trained-cell assignment (id, cell) — exposed for the
    * PipelineSpec skew gates (per-cell populations bound candidate
    * volume). */
  private[graft] def cellAssignments(prepared: DataFrame, idCol: String,
                                     cents: Array[(Long, Array[Long], Long)]): DataFrame =
    prepared.select(col(idCol), element_at(rankedCellIds(cents, 1), 1).as("cell"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus into IVF Voronoi cells, then mark
    * as duplicates all but the lowest-id member of every within-cell group
    * whose pairwise cosine reaches `threshold`. Returns the DROPPED rows:
    * (id, cell, dup_of = lowest earlier same-cell near-dup, max_cos).
    *
    * Scale shape: cell assignment is the same per-row argmin over inlined
    * centroid literals as [[ivfTopK]] (zero shuffle), and the pair join is
    * an equi-join on cell id. Cost is Σ|cell|², so `cells` must grow with
    * the corpus to bound cell size (SemDeDup uses ~10⁵ clusters at
    * billion-scale); cross-cell near-dups are the standard recall trade —
    * semantically-placed cells miss fewer of them than random LSH buckets.
    */
  def semanticDedup(prepared: DataFrame, idCol: String, cells: Int,
                    threshold: Double): DataFrame = {
    val cents = sampleCentroids(prepared, idCol, cells)
    // both join sides read the assignment — cache, like the LSH/IVF paths
    val assigned = prepared
      .withColumn("cell", element_at(rankedCellIds(cents, 1), 1))
      .cache()
    val a = assigned.select(col(idCol).as("id_a"), col("cell"), col("q").as("qa"), col("n2").as("na"))
    val b = assigned.select(col(idCol).as("id_b"), col("cell"), col("q").as("qb"), col("n2").as("nb"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_b").as(idCol), col("cell"), col("id_a"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col(idCol), col("cell"))
      .agg(min(col("id_a")).as("dup_of"), max(col("cos")).as("max_cos"))
  }

  /** Mutual k-NN graph within IVF Voronoi cells: an undirected edge
    * (id_a < id_b, cosine) exists iff each endpoint is in the other's
    * within-cell top-k — the neighborhood graph that seeds graph-based
    * dedup clustering and diversity sampling over embedding corpora.
    *
    * Scale shape: cell assignment is the zero-shuffle per-row argmin over
    * inlined centroid literals ([[ivfTopK]]'s), candidates come from a cell
    * equi-join (cost Σ|cell|², bounded by growing `cells` with the corpus),
    * directed top-k is one rank-limited window per endpoint, and the mutual
    * check is a self-join on the (k·n)-row edge list — every shuffle moves
    * edges, never vectors × cells. Cross-cell neighbors are the standard
    * IVF recall trade. */
  def knnGraph(prepared: DataFrame, idCol: String, k: Int, cells: Int): DataFrame =
    knnGraphImpl(prepared, idCol, k, cells, eager = true)

  /** Lazy [[knnGraph]] (no cache, no checkpoint) — exposes the full plan for
    * the plan-shape gates; production callers want the eager variant, which
    * releases its assignment cache on return. */
  private[graft] def knnGraphLazy(prepared: DataFrame, idCol: String, k: Int, cells: Int): DataFrame =
    knnGraphImpl(prepared, idCol, k, cells, eager = false)

  private def knnGraphImpl(prepared: DataFrame, idCol: String, k: Int, cells: Int,
                           eager: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = sampleCentroids(prepared, idCol, cells)
    // both join sides read the assignment — cache, like the IVF search path
    val assigned0 = prepared
      .withColumn("c", element_at(rankedCellIds(cents, 1), 1))
    val assigned = if (eager) assigned0.cache() else assigned0
    try {
      val a = assigned.select(col(idCol).as("id_a"), col("c"), col("q").as("qa"), col("n2").as("na"))
      val b = assigned.select(col(idCol).as("id_b"), col("c"), col("q").as("qb"), col("n2").as("nb"))
      val scored = a.join(b, Seq("c")).filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
      val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b").asc)
      val knn = scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
        .select(col("id_a"), col("id_b"), col("cos"))
      // mutual = the reversed edge also survives its endpoint's top-k;
      // eager (localCheckpoint) so the assignment cache can be released here
      val rev = knn.select(col("id_b").as("id_a"), col("id_a").as("id_b"))
      val res = knn.join(rev, Seq("id_a", "id_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("cos"))
      if (eager) res.localCheckpoint(true) else res
    } finally if (eager) assigned.unpersist()
  }

  /** Approximate top-k: exact cosine ranking restricted to the query's LSH
    * bucket. Equi-join on bucket id replaces the full cross product — the
    * IVF-style scale path; recall is tunable via `planes`. */
  def annTopK(prepared: DataFrame, idCol: String, k: Int, planes: Int,
              queryPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both join sides read the bucketed vectors — cache so the hyperplane
    // dot aggregation runs once
    val buckets = lshBucket(prepared, idCol, planes).cache()
    val q = buckets.filter(queryPred)
      .select(col(idCol).as("query_id"), col("bucket"), col("q").as("qa"), col("n2").as("na"))
    val c = buckets.select(col(idCol).as("neighbor_id"), col("bucket"), col("q").as("qb"), col("n2").as("nb"))
    val scored = q.join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }
}

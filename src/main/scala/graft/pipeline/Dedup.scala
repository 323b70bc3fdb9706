package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * 100 TB posture:
  *  - exact dedup is one hash aggregate on a content hash (shuffle keyed by
  *    hash — uniform by construction, no skew);
  *  - MinHash signatures are computed with k aggregate columns in a SINGLE
  *    shuffle (not k passes); LSH banding turns all-pairs O(n²) into
  *    per-bucket self-joins, and exact Jaccard runs only over LSH survivors;
  *  - SimHash blocking uses the pigeonhole principle (hamming ≤ k pairs
  *    share ≥ 1 of k+1 signature segments) so candidate generation is again
  *    an equi-join, never a cross join.
  * Hashes are md5-hex for engine-portable determinism.
  */
object Dedup {

  // per-call suffix for the paragraphNearDups observe metric (duplicate
  // observed-metric names over different subtrees fail analysis)
  private val paraObserveId = new java.util.concurrent.atomic.AtomicLong

  /** Exact duplicate clusters by content hash: one row per distinct content,
    * with the surviving (minimum) id and the duplicate count. */
  def exactClusters(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Word `n`-gram shingles per document WITH multiplicity (no shuffle —
    * a pure projection+explode). */
  def shinglesRaw(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // explode window STARTS, then assemble each shingle with get()/concat_ws —
    // all codegen operators. (The transform(sequence, i -> concat_ws(slice))
    // formulation is a higher-order function: interpreted per element, it was
    // the single hottest stage of the minhash pipeline.) get() is 0-based and
    // null past the end; concat_ws skips nulls, which reproduces slice()'s
    // shorter-tail-window semantics exactly.
    require(n >= 1, s"shingleSize must be >= 1, got shingleSize=$n")
    val w = TextOps.tokens(col(textCol))
    df.select(col(idCol), w.as("_w"))
      .select(col(idCol), col("_w"),
        explode(sequence(lit(1), greatest(size(col("_w")) - (n - 1), lit(1)))).as("_i"))
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(j => get(col("_w"), col("_i") + lit(j) - 1)): _*).as("sh"))
  }

  /** Distinct word `n`-gram shingles per document. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, n).distinct()

  /** Largest prime below 2^31 — the Carter–Wegman modulus for minhash
    * permutations. (a·h + b) mod p with a ≠ 0 is a pairwise-independent
    * hash family; products stay under 2^36, far from Long overflow in Spark
    * and from DuckDB's checked BIGINT arithmetic. */
  val MinhashPrime: Long = 2147483647L

  /** splitmix64 finalizer — decorrelates the per-permutation (a_h, b_h)
    * seeds. Tiny sequential seeds (a=2h+1: h=0 is the identity permutation,
    * and small correlated multipliers cluster) weaken the pairwise-
    * independence LSH banding relies on; mixed 31-bit constants restore it
    * while staying deterministic. h ≤ 16, so the constants are computed on
    * the driver and INLINED as literals in both the Spark plan and the
    * DuckDB oracle SQL — no runtime mixing anywhere. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Multiplier for permutation h: mixed into [1, p-1] (never 0 — a=0 is a
    * constant function). a < 2^31 and x < p < 2^31 keep a·x+b < 2^63, inside
    * checked BIGINT arithmetic in DuckDB and Long in Spark. */
  def permA(h: Int): Long = (mix64(2L * h) & 0x7FFFFFFFL) % (MinhashPrime - 1) + 1

  /** Additive constant for permutation h, mixed into [0, p-1]. */
  def permB(h: Int): Long = (mix64(2L * h + 1) & 0x7FFFFFFFL) % MinhashPrime

  /** MinHash signature: ONE md5 per shingle (60 bits of it parsed as an
    * integer), then `numHashes` Carter–Wegman permutations
    * (a_h·x + b_h) mod p derived arithmetically — not `numHashes` separate
    * md5 calls, which cost ~k× the whole pipeline's hash budget (and string
    * minima aggregate ~4× slower than Long minima). All minima come out of
    * ONE aggregation (k agg columns), so the signature costs a single
    * shuffle keyed by document id. (a_h, b_h) are splitmix-mixed per-h
    * constants ([[permA]]/[[permB]]) — decorrelated, deterministic, and
    * mirrored literal-for-literal by the oracle. */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got numHashes=$numHashes")
    val p = MinhashPrime
    val withH = sh.select(col(idCol),
      (expr("cast(conv(substr(md5(cast(sh as binary)), 1, 15), 16, 10) as bigint)") % p).as("h0"))
    val aggs = (0 until numHashes).map(h =>
      min((col("h0") * permA(h) + permB(h)) % p).as(s"mh$h"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: group `rows` consecutive minhashes per band, hash the band
    * to a signature; documents sharing any (band, signature) are candidate
    * near-duplicates. `bands` must divide `numHashes` (a remainder drops
    * hashes; `bands > numHashes` puts every document in one bucket). */
  def lshBands(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes=$numHashes, got bands=$bands")
    val rows = numHashes / bands
    val stackArgs: Seq[Column] = (0 until bands).flatMap { b =>
      val sig = md5(concat_ws("|",
        (0 until rows).map(r => col(s"mh${b * rows + r}").cast("string")): _*).cast("binary"))
      Seq(lit(b), sig)
    }
    sigs.select(col(idCol), stack((Seq(lit(bands)) ++ stackArgs): _*).as(Seq("band", "sig")))
  }

  /** Candidate pairs from LSH buckets (id_a < id_b, deduplicated across
    * bands). The join is an equi-join on (band, sig) — at scale, a bucket
    * with pathological size means near-identical mass duplicates; cap with
    * a count filter if needed. */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band"), col("sig"), col(idCol).as("id_a"))
    val b = bands.select(col("band"), col("sig"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "sig")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Per-doc shingle-SET arrays (`idCol, __arr`) from a shingle stream
    * (`idCol, sh`), duplicates allowed: the one set aggregate. */
  private def setArrays(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol)).agg(collect_set(col("sh")).as("__arr"))

  /** The one overlap verify: candidates (`id_a, id_b`) joined to a left and
    * a right per-doc set frame (`idCol, __arr`), giving `id_a, id_b, inter,
    * na, nb` as longs (|A∩B|, |A|, |B|) — two AQE-broadcastable equi-joins
    * plus one codegen'd array_intersect per pair. `inter` is STAGED (the
    * repetitionStats HOF-staging rule): inlined, each reference would
    * rebuild the per-row hash set, the verify's whole cost. */
  private def overlap(cand: DataFrame, left: DataFrame, right: DataFrame,
                      idCol: String): DataFrame =
    cand
      .join(left.select(col(idCol).as("id_a"), col("__arr").as("__ca")), "id_a")
      .join(right.select(col(idCol).as("id_b"), col("__arr").as("__cb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ca"), col("__cb"))).cast("long").as("inter"),
        size(col("__ca")).cast("long").as("na"),
        size(col("__cb")).cast("long").as("nb"))

  /** `id_a, id_b, jaccard` from [[overlap]]'s counts:
    * |A∩B| / (|A|+|B|−|A∩B|). The integer difference is exact in a double. */
  private def jaccardOf(ov: DataFrame): DataFrame =
    ov.select(col("id_a"), col("id_b"),
      (col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))

  /** Exact n-gram Jaccard for given candidate pairs over a shingle stream
    * (`idCol, sh`): [[overlap]] against its per-doc sets. Runs only over
    * LSH survivors — the verify stage of the classic pipeline; an LSH
    * false positive with no shared shingle gets jaccard 0. */
  def jaccardVerify(sh: DataFrame, candidates: DataFrame, idCol: String): DataFrame = {
    val sets = setArrays(sh, idCol)
    jaccardOf(overlap(candidates, sets, sets, idCol))
  }

  /** Paragraph-granularity near-dup: split each page into paragraphs on
    * blank lines, run the standing MinHash band pipeline PER PARAGRAPH,
    * and roll the paragraph pairs up to (page pair, shared-paragraph
    * mass). Catches partial-overlap pages — syndication, quote farms, a
    * copied section inside otherwise-unique pages — that page-level
    * Jaccard at high thresholds misses entirely and [[containmentJoin]]
    * only sees one direction of.
    *
    * Output: `id_a, id_b` (page ids, `id_a < id_b` by construction —
    * paragraph ids order by page first), `n_para_pairs` (near-dup
    * paragraph pairs between the two pages), `n_paras_a` / `n_paras_b`
    * (distinct paragraphs of each page involved). Within-page paragraph
    * dups are excluded (same-page pairs roll out).
    *
    * Scale: identical to [[minhashNearDups]] — the paragraph frame is just
    * a bigger "document" set through the SAME band equi-join (no
    * all-pairs; the plan gate covers it), and the roll-up is one
    * aggregate over the pair frame. Paragraph ids pack as
    * `page_id * maxParas + index` in LONG arithmetic; page ids must be
    * NON-NULL, non-negative and < Long.MaxValue/maxParas (asserted per
    * row — a NULL id cannot pack and hard-fails the job; a
    * colliding packed id would silently corrupt the page-pair roll-up,
    * and DIV truncation misgroups negative ids). Pages with more than
    * `maxParas` paragraphs consider only their first `maxParas`
    * (id-collision safety — raise the bound for paragraph-heavy corpora);
    * the dropped-paragraph count is surfaced as an observed metric named
    * `graft.paragraph_near_dups.<n>` / `dropped_paragraphs` (rides the
    * plan — no extra pass; read it with a QueryExecutionListener or in
    * the Spark UI, the repo's no-silent-caps rule). The `<n>` suffix is
    * unique per call so two invocations compose in one query (Spark
    * rejects duplicate observed-metric names over different subtrees). */
  def paragraphNearDups(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5, maxParas: Int = 1024): DataFrame = {
    require(maxParas > 0, s"maxParas must be positive, got $maxParas")
    val idBound = Long.MaxValue / maxParas
    val pageId = col(idCol).cast("long")
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), "\n\\s*\n")).as(Seq("__pidx", "__ptext")))
      .filter(trim(col("__ptext")) =!= "")
      .observe(s"graft.paragraph_near_dups.${paraObserveId.incrementAndGet()}",
        sum(when(col("__pidx") >= maxParas, 1L).otherwise(0L)).as("dropped_paragraphs"))
      .filter(col("__pidx") < maxParas)
      .select(when(pageId >= 0 && pageId < idBound, pageId * maxParas + col("__pidx"))
          // coalesce the rendered id: concat_ws skips NULLs, which would
          // print a truncated message for the NULL-id case (ADVICE r15)
          .otherwise(raise_error(concat_ws("", lit(s"paragraphNearDups: $idCol out of packable " +
            s"range [0, $idBound): "), coalesce(col(idCol).cast("string"), lit("null"))))).as("__pid"),
        col("__ptext"))
    minhashNearDups(paras, "__pid", "__ptext", shingleSize, numHashes, bands, threshold)
      .select(expr(s"CAST(id_a DIV $maxParas AS BIGINT)").as("pg_a"),
        expr(s"CAST(id_b DIV $maxParas AS BIGINT)").as("pg_b"),
        col("id_a"), col("id_b"))
      .filter(col("pg_a") =!= col("pg_b"))
      .groupBy(col("pg_a"), col("pg_b"))
      .agg(count(lit(1)).as("n_para_pairs"),
        countDistinct(col("id_a")).as("n_paras_a"),
        countDistinct(col("id_b")).as("n_paras_b"))
      .select(col("pg_a").as("id_a"), col("pg_b").as("id_b"),
        col("n_para_pairs"), col("n_paras_a"), col("n_paras_b"))
  }

  /** Full MinHash near-dup pipeline: shingle → sign → band → bucket-join →
    * exact-verify, returning pairs with Jaccard ≥ `threshold`. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    requireThreshold(threshold)
    // signatures are duplicate-insensitive (min over a multiset == min over
    // its set), so they read the RAW shingle stream — no distinct shuffle on
    // the full corpus. Band rows and candidates are cached: each feeds two
    // joins. bandChain spreads its input internally: a corpus arriving as
    // few parquet splits would otherwise run the shingle+hash kernel in one
    // task.
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    val banded = bandChain(df, idCol, textCol, shingleSize, numHashes, bands).cache()
    val cand = lshCandidates(banded, idCol).cache()
    val candDocs = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    // the shingle streams needed for exact Jaccard are re-derived from the
    // SURVIVING documents only: a semi-join cannot push through the
    // shingle explode, so filtering the raw stream would re-run the whole
    // corpus's shingle kernel a second time — semi-join the documents first,
    // then shingle just those (verify work scales with survivors, not
    // corpus). The semi-join runs BEFORE the skew-spreading repartition
    // (guide §2.3: filter before the exchange), so only surviving
    // documents' text crosses the shuffle — the old order shuffled the
    // whole corpus payload to then drop the non-candidates (measured
    // 54 -> 28 CPU-s on the q108 verify leg). No distinct, no cache:
    // jaccardVerify set-aggregates the raw stream in its one consuming
    // pass.
    // round-robin ON PURPOSE (r18): jaccardVerify's collect_set output is
    // joined TWICE (id_a and id_b sides); the aggregate's exchange is the
    // reuse point that keeps the shingle kernel single-execution —
    // hash-by-id would fuse the aggregate into the kernel stage and run
    // the kernel once per join side
    val shSets = shinglesRaw(
      df.join(broadcast(candDocs), Seq(idCol), "left_semi").repartition(par),
      idCol, textCol, shingleSize)
    jaccardVerify(shSets, cand, idCol).filter(col("jaccard") >= threshold)
  }

  private def requireThreshold(t: Double): Unit =
    require(t > 0 && t <= 1, s"threshold must be in (0, 1], got threshold=$t")

  /** Cross-source duplicate leakage: [[minhashNearDups]] pairs rolled up
    * by UNORDERED source pair — the governance view that shows where
    * duplicated mass lives: the diagonal (src, src) is within-source
    * redundancy, off-diagonal cells are leakage ACROSS sources (mirror
    * sites, shared upstreams, a benchmark split bleeding into a training
    * source). One broadcast join of the (id, source) projection onto the
    * pair list, then a #sources²-bounded aggregate; `id_sum` pins the exact
    * pair membership, not just the counts. */
  def crossSourceLeakage(df: DataFrame, idCol: String, textCol: String, srcCol: String,
                         shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    // checkpointed: the pair list is consumed three times below (id list +
    // both label joins) and must not re-execute the verify chain per use
    val pairs = minhashNearDups(df, idCol, textCol, shingleSize, numHashes, bands, threshold)
      .localCheckpoint(true)
    crossSourceLeakageFromPairs(pairs, df, idCol, srcCol)
  }

  /** [[crossSourceLeakage]] over an ALREADY-materialized pair frame — the
    * standing-state entry point: one near-dup pass per corpus feeds q24's
    * pair listing, q47's clustering, AND this rollup, instead of each
    * re-running the whole shingle→sign→band→verify chain. `pairs` must be
    * checkpointed/cached (it is consumed three times below). */
  def crossSourceLeakageFromPairs(pairs: DataFrame, df: DataFrame,
                                  idCol: String, srcCol: String): DataFrame = {
    // the corpus-wide (id, source) projection is NOT broadcastable at
    // scale; restrict it to pair participants first (≤ 2·|pairs| rows, and
    // pairs are materialized so the id list is a cheap scan) — THAT is the
    // broadcast side
    val pairIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val src = df.select(col(idCol), col(srcCol))
      .join(broadcast(pairIds), Seq(idCol), "left_semi")
    pairs
      .join(broadcast(src.select(col(idCol).as("id_a"), col(srcCol).as("__sa"))), "id_a")
      .join(broadcast(src.select(col(idCol).as("id_b"), col(srcCol).as("__sb"))), "id_b")
      .select(least(col("__sa"), col("__sb")).as("src_lo"),
        greatest(col("__sa"), col("__sb")).as("src_hi"),
        col("id_a"), col("id_b"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("id_a") + col("id_b")).as("id_sum"))
  }

  /** The shingle → minhash → LSH-band chain for one document set: the
    * signature computation shared by whole-corpus pairing
    * ([[minhashNearDups]]) and incremental probing ([[probeNearDups]]).
    * Spread first: a corpus arriving as few parquet splits would otherwise
    * run the whole shingle+hash kernel in one task. */
  private def bandChain(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    lshBands(minhashSignatures(
      shinglesRaw(df.repartition(par, col(idCol)), idCol, textCol, shingleSize), idCol, numHashes),
      idCol, numHashes, bands)
  }

  /** Precomputed corpus side of incremental dedup: band signatures (the
    * candidate-join key) and distinct shingle sets (the verify side). Build
    * once, store/cache, then probe every arriving batch against it —
    * per-ingest work becomes O(batch). The index pins the parameters it was
    * built with: a probe whose signature chain used different constants
    * would band-join against incomparable signatures and silently report
    * zero duplicates, so [[probeNearDupsIndexed]] reuses these instead of
    * accepting its own. */
  final case class NearDupIndex(bands: DataFrame, shingleSets: DataFrame,
                                shingleSize: Int, numHashes: Int, numBands: Int) {
    /** Standing-pipeline form: both sides eagerly computed and pinned as
      * localCheckpoints, so every later probe pays the batch chain plus the
      * band join only — never a corpus re-shingle. This is the state a
      * long-lived ingest service holds between batches (at cluster scale,
      * a persisted table plays this role; in one JVM the checkpoint does). */
    def materialize(): NearDupIndex =
      copy(bands = bands.localCheckpoint(true),
        shingleSets = shingleSets.localCheckpoint(true))
  }

  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 16,
                        bands: Int = 4): NearDupIndex = {
    val par = corpus.sparkSession.sessionState.conf.numShufflePartitions
    NearDupIndex(
      bandChain(corpus, idCol, textCol, shingleSize, numHashes, bands),
      shinglesRaw(corpus.repartition(par, col(idCol)), idCol, textCol, shingleSize).distinct(),
      shingleSize, numHashes, bands)
  }

  /** Incremental near-dup detection: probes a NEW batch of documents
    * against an existing corpus — the per-ingest shape of dedup at scale.
    * Candidates come from the LSH band equi-join between the batch's
    * signatures and the index's; exact Jaccard verifies survivors only.
    * Returns (id_new, dup_of, jaccard ≥ threshold): the batch rows to drop
    * and what they duplicate. Batch and corpus ids must be DISJOINT — an
    * overlapping id would merge two different documents' shingle sets into
    * one, silently corrupting every Jaccard it touches, so the convenience
    * overload fails fast instead (the indexed variant trusts the caller:
    * the index does not retain raw ids to check against cheaply). */
  def probeNearDups(newDf: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    require(newDf.select(col(idCol))
      .join(corpus.select(col(idCol)), Seq(idCol), "left_semi").isEmpty,
      "probeNearDups: batch and corpus ids overlap — re-ingested ids would " +
        "merge two documents' shingle sets and corrupt the Jaccard scores")
    probeNearDupsIndexed(newDf,
      buildNearDupIndex(corpus, idCol, textCol, shingleSize, numHashes, bands),
      idCol, textCol, threshold)
  }

  /** [[probeNearDups]] against a prebuilt [[NearDupIndex]] — the standing-
    * pipeline entry point where the corpus side is computed ONCE: each call
    * pays the batch's signature chain plus survivor verification only. The
    * batch's signature chain runs with the INDEX's pinned parameters.
    *
    * EAGER: the result is checkpointed through [[CallCache]] so the
    * candidate-pair cache is released before returning — a standing
    * pipeline calling this per micro-batch must not accumulate one cache
    * entry per batch forever. */
  def probeNearDupsIndexed(newDf: DataFrame, index: NearDupIndex,
                           idCol: String, textCol: String,
                           threshold: Double = 0.5): DataFrame = {
    requireThreshold(threshold)
    val par = newDf.sparkSession.sessionState.conf.numShufflePartitions
    val (shingleSize, numHashes, bands) =
      (index.shingleSize, index.numHashes, index.numBands)
    val nb = bandChain(newDf, idCol, textCol, shingleSize, numHashes, bands)
    CallCache { pin =>
      val cand = pin(nb.select(col("band"), col("sig"), col(idCol).as("id_a"))
        .join(index.bands.select(col("band"), col("sig"), col(idCol).as("id_b")),
          Seq("band", "sig"))
        .select(col("id_a"), col("id_b")).distinct())
      // verify shingles: the batch side re-shingles its survivors (semi-join
      // first — the semi-join cannot push through the shingle explode); the
      // corpus side reads the INDEX, restricted to surviving ids.
      // round-robin spread: the survivors' per-row shingle kernel gets the
      // full width (a probe batch arrives in few splits); a spread keyed by
      // id, which the set aggregate could reuse, has not been measured
      val newSurvivors = newDf.join(
        broadcast(cand.select(col("id_a").as(idCol)).distinct()), Seq(idCol), "left_semi")
      val newSh = shinglesRaw(newSurvivors.repartition(par), idCol, textCol, shingleSize)
      val corpusSh = index.shingleSets.join(
        broadcast(cand.select(col("id_b").as(idCol)).distinct()), Seq(idCol), "left_semi")
      // SIDE-SPLIT verify (r19): every candidate's id_a is a BATCH doc and
      // id_b an INDEX doc by construction, so each verify join consumes its
      // own side's set aggregate directly — the old union-then-aggregate
      // shape made the aggregate a two-consumer subtree that exchange reuse
      // could not deduplicate across the union (measured in the q51 stage
      // decomposition: the whole union, index scan included, ran twice per
      // probe). Now each subtree executes exactly once, unioned nowhere.
      jaccardOf(overlap(cand, setArrays(newSh, idCol), setArrays(corpusSh, idCol), idCol))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a").as("id_new"), col("id_b").as("dup_of"), col("jaccard"))
    }
  }

  /** Groups near-duplicate PAIRS into duplicate CLUSTERS (connected
    * components): cluster id = the minimum doc id transitively reachable
    * through the pair graph, so "A≈B, B≈C" collapses to one keep-one-drop-
    * the-rest cluster even when A and C were never directly compared.
    *
    * Min-label propagation with POINTER JUMPING: each round every node
    * first adopts the smallest label among itself and its neighbors (one
    * edge-list join), then adopts its label's label (one node-list
    * self-join). The jump step makes the known-min distance roughly double
    * per round, so even a pure chain of n pairwise-linked docs converges in
    * O(log n) rounds — not the O(n) of plain neighbor-min — while dense
    * near-clique dup clusters still finish in 2-3 rounds. Each round
    * shuffles the EDGE list and the node list — never all-pairs — and
    * `localCheckpoint` truncates lineage per round so the plan stays flat
    * however many rounds run. Labels only ever move to ids already known to
    * be in the same component (neighbor labels, or labels reached through
    * them), so the fixed point is exactly the per-component minimum id.
    * Rows: (cluster_id, node id). Nodes outside any pair are absent (they
    * are their own singleton clusters by definition).
    *
    * If the graph has not converged after `maxIters` rounds (a pair CHAIN
    * longer than the budget — e.g. hundreds of incrementally-edited
    * versions), this THROWS rather than silently returning split clusters:
    * a keep-one-per-cluster dedup built on partial components would keep
    * extra duplicates with no signal. Raise `maxIters` for such graphs
    * (cost is linear per round over the edge list).
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIters: Int = 100): DataFrame = {
    val caller = pairs.sparkSession
    // ISOLATED LOOP-SIZED execution: the loop runs on a CHILD session
    // (shared SparkContext / catalog / cache manager, fresh SQLConf) so its
    // width and AQE overrides are invisible to any concurrent query on the
    // caller's session — e.g. a streaming micro-batch planned mid-loop. The
    // caller's conf is never touched; nothing to restore, even on throw.
    // Loop sizing itself: each round is a fresh tiny query, so the session's
    // shuffle width and AQE re-planning dominate small graphs (measured at
    // sf0.1: 8.3 s → 2.5 s for a ~100-edge graph). The edge count — the
    // cache materialization round 0 pays anyway — sizes the loop's shuffles
    // at ~4M edges/partition, and AQE is turned off only when the whole
    // graph fits a few partitions (its skew/coalescing value is nil there;
    // its per-stage re-optimization is the dominant cost). Large graphs
    // keep the caller's width and AQE.
    val spark = caller.newSession()
    val input = org.apache.spark.sql.GraftShim.ofRows(spark, pairs.queryExecution.analyzed)
    // no edge distinct: candidate pairs arrive deduplicated (id_a < id_b,
    // one row per pair), so the two-direction union has no duplicates — and
    // even a caller-supplied duplicate only repeats a min() input. Dropping
    // the distinct removes a full shuffle before the loop ever starts.
    val edges = input.select(col(idA).as("src"), col(idB).as("dst"))
      .union(input.select(col(idB).as("src"), col(idA).as("dst")))
      .cache()
    try {
      val edgeCount = edges.count()
      val par = caller.sessionState.conf.numShufflePartitions
      val loopParts = math.min(par.toLong, edgeCount / 4000000L + 1L).toInt
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      if (edgeCount <= 16000000L) spark.conf.set("spark.sql.adaptive.enabled", "false")
      // convergence rides an ACCUMULATOR folded into the round's ONE
      // materializing action (the eager localCheckpoint), not a second
      // probe job per round: a round is converged when the checkpoint's
      // tasks reported zero moved labels. At-least-once task accounting
      // cannot flip the test — a retry re-adds only nonzero counts, and
      // zero stays zero.
      val acc = spark.sparkContext.longAccumulator("graft.dupClusters.moved")
      // labels keep the caller's id type (the encoder mirrors it): the
      // operator is type-generic, ids are only compared and carried
      val idType = edges.schema("src").dataType
      val rowEnc = org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("label", idType))))
      var labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
        .localCheckpoint(true)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .groupBy(col("src")).agg(min(col("label")).as("nmin"))
        val stepped = labels
          .join(neighborMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        // pointer jump: label := label's label. Every label is a node id (it
        // started as one and only ever moves to another node's label), so the
        // self-join always matches; `left` guards the empty-frame edge only.
        val movedBefore = acc.value
        val next = stepped
          .join(stepped.select(col("id").as("__lid"), col("label").as("__llabel")),
            stepped("label") === col("__lid"), "left")
          .select(stepped("id").as("id"),
            least(stepped("label"), coalesce(col("__llabel"), stepped("label"))).as("label"),
            (least(stepped("label"), coalesce(col("__llabel"), stepped("label")))
              < col("prev")).as("moved"))
          .mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
            it.map { r =>
              if (r.getBoolean(2)) acc.add(1L)
              org.apache.spark.sql.Row(r.get(0), r.get(1))
            }
          }(rowEnc)
          .localCheckpoint(true)
        converged = acc.value == movedBefore
        labels = next
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"dupClusters did not converge after $maxIters rounds — the pair graph has a " +
            s"chain longer than the iteration budget; re-run with a larger maxIters")
      // rebind the (checkpoint-backed) result to the CALLER's session: the
      // child exists only to scope the loop's confs
      org.apache.spark.sql.GraftShim.ofRows(caller,
        labels.select(col("label").as("cluster_id"), col("id"))
          .queryExecution.analyzed)
    } finally edges.unpersist()
  }

  /** Canonical-document selection per duplicate cluster — the step AFTER
    * clustering in a dedup pipeline: of each cluster's members, KEEP the
    * highest-scoring document (quality score, length, recency — any
    * caller-supplied ranking) and record the cluster's size and membership
    * checksum for the drop audit. Deterministic: ties break on ascending
    * id, and the caller's score column is expected to be engine-exact (the
    * quality/LM scores in this repo all are).
    *
    * One shuffle keyed by cluster id serves both the argmax window and the
    * membership aggregate. `clusters` is [[dupClusters]]' output
    * (`cluster_id`, `id`); `scored` maps `idCol` → `scoreCol`.
    *
    * Output: `cluster_id, n_members, member_id_sum, keeper, keeper_score`.
    */
  def clusterRepresentatives(clusters: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = clusters.join(
      scored.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score")), "id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc, col("id").asc)
    joined.withColumn("__rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("id")).as("member_id_sum"),
        max(when(col("__rn") === 1, col("id"))).as("keeper"),
        max(when(col("__rn") === 1, col("__score"))).as("keeper_score"))
  }

  /** 16-bit SimHash signature per document: bit b is the sign of the sum of
    * ±1 votes from bit b of each token's md5 (tokens counted with
    * multiplicity). Two shuffles: (doc, bit) partial sums, then doc. The
    * 16-bit width is the engine-portable demonstration size; widen by using
    * more md5 nibbles. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // md5 once per token; the 16 bit-votes are cheap nibble ops on that one
    // hash, aggregated as 16 sum columns in a single shuffle. Repartition
    // first: few input splits would serialize the hash kernel.
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    val toks = df.repartition(par, col(idCol))
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val votes = (0 until 16).map { b =>
      sum(expr(
        s"""CASE WHEN ((instr('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)
           |  >> ${3 - b % 4}) & 1 = 1 THEN 1 ELSE -1 END""".stripMargin)).as(s"s$b")
    }
    toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 16).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Full-width 64-bit SimHash signature per document: bit b is the sign of
    * the ±1 votes from bit b of each token's md5 (first 16 hex chars = 64
    * bits; tokens counted with multiplicity). Same two-shuffle shape as
    * [[simhash16]]; the OR of 64 disjoint powers assembles the signature
    * (bit 63 via the min-long literal — both engines reject `1 << 63`).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    // one md5 per token, parsed ONCE into four 16-bit integer chunks (hex
    // char order: first char = high nibble, so chunk bit (15 - j) is global
    // bit 16k + j) — each of the 64 bit-votes is then a shift/AND instead of
    // a string probe, and the ±1 vote sum is derived from the bit-count:
    // sum(±1) > 0  ⟺  2 * ones > n_tokens.
    val toks = df.repartition(par, col(idCol))
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .select(Seq(col(idCol)) ++ (0 until 4).map(k =>
        expr(s"cast(conv(substr(h, ${k * 4 + 1}, 4), 16, 10) as int)").as(s"c$k")): _*)
    val ones = (0 until 64).map { b =>
      sum(shiftright(col(s"c${b / 16}"), 15 - b % 16).bitwiseAND(lit(1))).as(s"o$b")
    }
    toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), ones: _*)
      .select(col(idCol),
        (0 until 64).map(b =>
          when(col(s"o$b") * 2 > col("__n"), lit(if (b == 63) Long.MinValue else 1L << b))
            .otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` via pigeonhole blocking on
    * `numSegments` signature segments of `segmentBits` bits each (hamming ≤
    * numSegments−1 ⇒ at least one segment matches exactly — an equi-join,
    * never a cross product). Defaults block a 16-bit signature on nibbles;
    * use (4, 16) for [[simhash64]] signatures. Segments must fit 64 bits. */
  def simhashNearDups(sigs: DataFrame, idCol: String, maxHamming: Int,
                      numSegments: Int = 4, segmentBits: Int = 4): DataFrame = {
    require(maxHamming >= 0 && maxHamming < numSegments, "pigeonhole needs 0 <= maxHamming < " +
      s"numSegments, got maxHamming=$maxHamming numSegments=$numSegments")
    require(segmentBits >= 1 && segmentBits <= 63,
      s"segmentBits must be in [1, 63], got segmentBits=$segmentBits")
    require(numSegments.toLong * segmentBits <= 64,
      s"numSegments * segmentBits must be <= 64, got numSegments=$numSegments segmentBits=$segmentBits")
    val mask = (1L << segmentBits) - 1
    // both sides of the self-join read seg: cache it (numSegments small rows
    // per doc) so the signature aggregation runs once
    val seg = sigs.select(col(idCol), col("simhash"),
      explode(sequence(lit(0), lit(numSegments - 1))).as("n"))
      .withColumn("nv", expr(s"shiftright(simhash, n * $segmentBits) & $mask"))
      .cache()
    val a = seg.select(col("n"), col("nv"), col(idCol).as("id_a"), col("simhash").as("sim_a"))
    val b = seg.select(col("n"), col("nv"), col(idCol).as("id_b"), col("simhash").as("sim_b"))
    // hamming filter BEFORE the pair dedup (r18): bit_count is a codegen
    // scalar, so verifying inside the join stage costs ~nothing while the
    // distinct exchange then carries only true pairs (× segment
    // multiplicity ≤ numSegments) instead of every bucket collision
    a.join(b, Seq("n", "nv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sim_a ^ sim_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming).distinct()
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering (the
    * AllPairs/PPJoin family, Bayardo et al. 2007; Chaudhuri et al. 2006) —
    * the zero-false-negative counterpart to [[minhashNearDups]]: every pair
    * with Jaccard ≥ tNum/tDen is guaranteed returned, no signature
    * probability involved.
    *
    * Prefix filter: order each document's shingles by a GLOBAL total order
    * (document frequency asc, shingle asc — rarest first) and keep only the
    * first |S| − ⌈t·|S|⌉ + 1 as its "prefix". Two sets with Jaccard ≥ t must
    * share at least one token inside both prefixes (sharing none bounds the
    * intersection below t·max(|A|,|B|)), so the candidate join is an
    * equi-join on PREFIX tokens only — and because the order puts rare
    * tokens in the prefix, the inverted lists being joined are the SHORT
    * ones. ⌈t·n⌉ is computed as (tNum·n + tDen − 1) DIV tDen — exact integer
    * arithmetic, bit-identical on any engine.
    *
    * 100 TB shape: shingle sets are pinned (they feed the document-
    * frequency aggregate, the prefix ranking, and the verify stage);
    * shuffles are keyed on doc id (window) and shingle (df + join) — both
    * near-uniform; [[overlap]] verifies candidates only. The worst case (a
    * corpus-wide hot shingle in many prefixes) is bounded by the df-asc
    * ordering: a token lands in prefixes only when a document has few
    * rarer alternatives.
    */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, tNum: Long = 1, tDen: Long = 2): DataFrame =
    CallCache(pin => jaccardJoinPlan(pin)(
      pin(docShingleArrays(df, idCol, textCol, shingleSize)), idCol, tNum, tDen))

  /** Canonical per-doc shingle-SET arrays (`idCol, __arr`) — the single
    * corpus-scale aggregate behind [[jaccardJoinExact]] and
    * [[containmentJoin]] (one row per doc; the exploded stream this
    * replaced was the suite's largest transient memory consumer — the r12
    * driver-record outliers traced to exactly that footprint under box
    * contention). A caller running BOTH joins over the same corpus should
    * build this once, persist it, and use the `OnArrays` entries — the
    * q77/q78 standing-state shape. */
  def docShingleArrays(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int): DataFrame = {
    val par = df.sparkSession.sessionState.conf.numShufflePartitions
    setArrays(shinglesRaw(df.repartition(par, col(idCol)), idCol, textCol, shingleSize), idCol)
  }

  /** [[jaccardJoinExact]] over a PRE-BUILT (and caller-persisted)
    * [[docShingleArrays]] frame: skips the corpus-scale collect_set
    * aggregate entirely. The frame is not pinned or unpersisted here —
    * its lifetime belongs to the caller. */
  def jaccardJoinExactOnArrays(docArr: DataFrame, idCol: String,
                               tNum: Long = 1, tDen: Long = 2): DataFrame =
    CallCache(jaccardJoinPlan(_)(docArr, idCol, tNum, tDen))

  /** The [[jaccardJoinExact]] plan over per-doc set arrays; `pin` marks the
    * prefix frame, which the candidate self-join reads twice. Called with
    * `identity`, it is the whole lazy plan. */
  private[graft] def jaccardJoinPlan(pin: CallCache.Pin)(
      docArr: DataFrame, idCol: String, tNum: Long, tDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0, 1]")
    val sh = docArr.select(col(idCol), explode(col("__arr")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // rank and set size come out of ONE partition-by-doc exchange: the
    // count runs as an unordered frame over the same partitioning, so no
    // separate counts aggregate + join-back is needed
    val w = Window.partitionBy(col(idCol)).orderBy(col("df").asc, col("sh").asc)
    // pinned: the candidate self-join consumes the prefix twice, and
    // exchange reuse does not deduplicate the aliased branches — without
    // the cache each side re-runs the df-aggregate, its join, and the
    // ranking window
    val prefix = pin(sh.join(dfreq, "sh")
      .select(col(idCol), col("sh"), row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy(col(idCol))).as("n_sh"))
      .filter(col("rn") <=
        col("n_sh") - expr(s"CAST((n_sh * $tNum + ${tDen - 1}) DIV $tDen AS BIGINT)") + 1)
      .select(col(idCol), col("sh"), col("rn"), col("n_sh")))
    // PPJoin length filter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair
    // can reach t = tNum/tDen only when na·tNum ≤ nb·tDen in BOTH
    // directions — size-incompatible candidates are dropped before the
    // distinct and the 3-join verify ever see them.
    //
    // PPJoin POSITIONAL filter on top: a match at ordered positions
    // (i, j) bounds the overlap by min(na−i, nb−j)+1 (every further
    // shared token sits strictly after the match in BOTH ordered sets),
    // and J ≥ t needs overlap·(tNum+tDen) ≥ (na+nb)·tNum. The first
    // (globally smallest) shared token of a qualifying pair — the one
    // AllPairs guarantees inside both prefixes — always satisfies the
    // bound, so dropping failing INSTANCES loses no pair; it only stops
    // late-prefix coincidences from reaching the distinct and the
    // 3-join verify. Both filters are exact integer cross-multiplication.
    val cand = prefix.select(col("sh"), col(idCol).as("id_a"),
        col("rn").as("ra"), col("n_sh").as("na"))
      .join(prefix.select(col("sh"), col(idCol).as("id_b"),
        col("rn").as("rb"), col("n_sh").as("nb")), "sh")
      .filter(col("id_a") < col("id_b") &&
        col("na") * tNum <= col("nb") * tDen && col("nb") * tNum <= col("na") * tDen &&
        (least(col("na") - col("ra"), col("nb") - col("rb")) + 1) * (tNum + tDen) >=
          (col("na") + col("nb")) * tNum)
      .select(col("id_a"), col("id_b")).distinct()
    // (A survivor-restricted verify — minhashNearDups' broadcast semi-join
    // — was measured SLOWER here: prefix-filter candidates cover most of
    // the corpus.) J ≥ t as an exact integer test on the true overlap: it
    // references `inter` once, so the join condition it is pushed into
    // builds one per-pair hash set, not two.
    jaccardOf(overlap(cand, docArr, docArr, idCol)
      .filter(col("inter") * (tDen + tNum) >= (col("na") + col("nb")) * tNum))
  }

  /** Containment join — quote/subset detection: ordered pairs where at
    * least `tNum/tDen` of the SOURCE document's n-gram shingles also occur
    * in the superset document (C(A→B) = |A∩B| / |A|). Jaccard misses a
    * short document quoted inside a long one (the union is dominated by the
    * long side); containment is the asymmetric measure built for it.
    *
    * Candidate generation blocks on RARE shingles (document frequency ≤
    * `maxDf`): a pair is considered when it shares at least one shingle
    * that few other documents have — an equi-join over short inverted
    * lists, never all-pairs. This is standard rare-token blocking: recall
    * is complete for any pair sharing ≥ 1 sub-`maxDf` shingle (pairs whose
    * every common shingle is corpus-hot are boilerplate, not quotes).
    *
    * 100 TB shape: one pinned set-array frame feeding df-aggregate +
    * verify, the block join keyed on rare shingles only, verification only
    * over blocked candidates. `maxDf` directly caps inverted-list length,
    * so candidate volume is ≤ maxDf² per rare shingle. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, maxDf: Long = 10,
                      tNum: Long = 4, tDen: Long = 5): DataFrame =
    CallCache(pin => containmentJoinPlan(
      pin(docShingleArrays(df, idCol, textCol, shingleSize)), idCol, maxDf, tNum, tDen))

  /** [[containmentJoin]] over a PRE-BUILT (and caller-persisted)
    * [[docShingleArrays]] frame — the q77/q78 standing-state seam; the
    * frame is not pinned or unpersisted here. */
  def containmentJoinOnArrays(docArr: DataFrame, idCol: String,
                              maxDf: Long = 10,
                              tNum: Long = 4, tDen: Long = 5): DataFrame =
    CallCache(_ => containmentJoinPlan(docArr, idCol, maxDf, tNum, tDen))

  /** The [[containmentJoin]] plan over per-doc set arrays (which the
    * entries own; nothing else is read twice). */
  private[graft] def containmentJoinPlan(docArr: DataFrame, idCol: String,
                                         maxDf: Long, tNum: Long, tDen: Long): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0, 1]")
    // df = 1 shingles cannot witness a pair: maxDf < 2 blocks on nothing
    require(maxDf >= 2, s"maxDf must be >= 2, got maxDf=$maxDf")
    // the per-doc shingle-set arrays feed the blocking chain (re-exploded,
    // shuffle-free off the pinned frame) and the overlap verify. Row size is
    // bounded by the document's own length (the doc text was already a row).
    val shD = docArr.select(col(idCol), explode(col("__arr")).as("sh"))
    // rare = blocking shingles: document frequency in [2, maxDf] (df = 1
    // shingles cannot witness a pair; df is counted over distinct
    // (doc, sh), which the set-arrays guarantee). Two-pass on purpose:
    // the df-filter runs BEFORE any id-list collection, so a corpus-hot
    // shingle (df in the millions at 100 TB) is never collected into an
    // executor-side list.
    val rare = shD.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("sh")
    // candidate pairs by ENUMERATING each rare shingle's inverted list
    // (≤ maxDf ids, sorted → id_a < id_b by construction) instead of a
    // self-join: the join output and its shuffle never materialize; the
    // groupBy(sh) after the rare join reuses the join's partitioning.
    val rareLists = shD.join(rare, "sh")
      .groupBy(col("sh")).agg(sort_array(collect_list(col(idCol))).as("ids"))
    val cand = rareLists.select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b")).distinct()
    // EXACT intersection via the [[overlap]] verify — instead of expanding
    // every candidate by ALL of A's shingles (|cand|·|A| rows through two
    // shuffles and a re-aggregate, the old shape and q78's dominant cost).
    // Same |A∩B| bit-for-bit: the arrays ARE the distinct shingle sets.
    // (The r11 intersection-bound prune is gone with the expansion it
    // protected: per-pair verify cost is now O(|A|+|B|) hashing, cheaper
    // than the prune's four joins + aggregate at every threshold.)
    //
    // both directions of each unordered candidate, filtered independently:
    // integer cross-multiplication keeps the threshold test exact. The
    // directions come from ONE pass (explode of a 2-struct array) — a
    // self-union here would re-execute the whole overlap chain per branch,
    // since exchange reuse does not fire across the aliased branches.
    // (No pair-level length filter exists for containment: the smaller
    // side is ALWAYS a feasible source — C(min→max) can reach 1.0 at any
    // size ratio — unlike Jaccard's symmetric min/max bound.)
    overlap(cand, docArr, docArr, idCol).select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("sup_id"),
          col("inter"), col("na").as("n_src")),
        struct(col("id_b").as("src_id"), col("id_a").as("sup_id"),
          col("inter"), col("nb").as("n_src")))).as("dir"))
      .filter(col("dir.inter") * tDen >= col("dir.n_src") * tNum)
      .select(col("dir.src_id").as("src_id"), col("dir.sup_id").as("sup_id"),
        (col("dir.inter").cast("double") / col("dir.n_src")).as("containment"))
  }
}

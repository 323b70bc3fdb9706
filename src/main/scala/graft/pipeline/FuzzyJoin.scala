package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) similarity self-join — entity-resolution /
  * record-linkage blocking for a training-data pipeline (near-identical
  * titles, URLs, author strings, product names).
  *
  * Candidate generation is a pure EQUI-join in every branch — never an
  * all-pairs comparison — followed by an exact thresholded-Levenshtein
  * verify on the survivors. Four complete-by-construction branches: the
  * deletion-neighborhood branch (branch 0 below) for strings up to
  * `graft.fuzzy.symdelete.maxlen`, then three keyed on string length
  * (`k` = the distance budget, `q` = `k+1`):
  *
  *  - **len > (k+1)²−1 — Ed-Join prefix filtering** (Xiao, Wang, Lin,
  *    "Ed-Join", PVLDB 1(1), public): one edit destroys at most `q`
  *    positional q-grams, so two strings within distance `k` share a gram
  *    among their `k·q+1` RAREST grams under a single global
  *    (document-frequency asc) order. Rare-first prefixes make the join
  *    keys the most selective grams in the corpus — shared boilerplate
  *    ("Customer#…", "http://www.") is frequent, lands OUTSIDE every
  *    prefix, and never becomes a join key. (A pure segment scheme — see
  *    next branch — degrades quadratically exactly there: a segment
  *    falling inside the boilerplate region is one full-corpus bucket.)
  *  - **k+1 ≤ len ≤ (k+1)²−1 — PassJoin segments** (Li, Deng, Feng,
  *    PVLDB 5(3), public): such strings have too few grams for the prefix
  *    bound to bite (`|G| ≤ k·q` makes the count filter vacuous), but the
  *    pigeonhole partition into `k+1` segments is complete at any length
  *    ≥ k+1: a within-distance match contains some segment exactly,
  *    displaced at most `k`. Applied only to this bounded-length band,
  *    where segment keys are short but the row population is a corpus
  *    sliver and boilerplate-collision risk is structurally low.
  *  - **len ≤ k — tiny**: every such string is within distance `k` of any
  *    string of length ≤ 2k (and can never match a longer one), so the
  *    candidate set IS (tiny × ≤2k) — quadratic in a set that is
  *    degenerate by construction (strings shorter than the edit budget).
  *
  * A pair is routed by its SHORTER side (min-length ≤ k → tiny;
  * ≤ (k+1)²−1 → segments; else prefix), so the branches are disjoint and
  * jointly exhaustive; results union without cross-branch dedup.
  *
  * 100 TB posture: every shuffle is keyed by gram / segment / length
  * metadata, never by candidate pair — the banded `levenshtein(s, t, k)`
  * verify runs BEFORE the pair-level dedup (inside the same codegen stage
  * as the blocking join), so the only pair-keyed exchange carries
  * true-pair-scale rows, not candidate-scale. Prefix keys are globally
  * rarest-first (hot keys structurally excluded). Remaining skew is
  * ordinary equi-join skew — AQE splits it.
  */
object FuzzyJoin {

  /** All pairs `(id_a < id_b, dist)` with `levenshtein <= maxDist`.
    * Output: `id_a BIGINT, id_b BIGINT, dist BIGINT`, one row per pair. */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int): DataFrame =
    CallCache(editDistanceJoinPlan(_)(df, idCol, strCol, maxDist))

  /** COUNT of blocked candidate pairs (pre-verify), all four branches
    * (symdelete, prefix, segment, tiny) WITHOUT any dedup — exactly what
    * the verify kernel receives (since r18 the pair-level distinct runs
    * AFTER the verify, so candidates carry one row per shared blocking
    * key). Exposed for the scale
    * smoke's cost decomposition: candidate volume is the blocking quality
    * axis; the banded-DP verify and the output materialization are
    * per-candidate / per-true-pair work no blocking scheme can remove.
    * Runs through [[CallCache]] so the prefix frame caches for its
    * self-join (uncached, each join side would re-run the gram-df
    * aggregate + ranking window — measured 4x the full join's wall time)
    * and releases before return. */
  private[graft] def editDistanceCandidateCount(df: DataFrame, idCol: String,
                                                strCol: String, maxDist: Int): Long =
    CallCache.run { pin =>
      val ids = Seq("id_a", "id_b").map(col)
      candidateBranches(pin)(df, idCol, strCol, maxDist)
        .map(_.select(ids: _*)).reduce(_ union _)
    }(_.count())

  /** The [[editDistanceJoin]] plan; `pin` marks the frames a branch
    * self-join reads twice. Called with `identity`, it is the whole lazy
    * plan. */
  private[graft] def editDistanceJoinPlan(pin: CallCache.Pin)(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int): DataFrame = {
    val k = maxDist
    // VERIFY BEFORE DEDUP (r18, guide §2.3/§2.4): the candidate frames
    // carry duplicates (one per shared blocking key), but the banded
    // Levenshtein is ~1µs/pair while a pre-verify pair-level distinct
    // SHUFFLES the full candidate volume (measured 33.8M rows at sf0.1 vs
    // 0.46M true pairs — a 73x write amplification on the exchange).
    // Verifying first keeps the wide pair stream inside one codegen stage
    // (join -> levenshtein -> filter, no exchange) and the distinct only
    // moves true-pair-scale rows. dist is a function of (id_a, id_b), so
    // distinct-after-verify returns the identical row set.
    def verify(cand: DataFrame): DataFrame = cand
      // thresholded Levenshtein: banded DP, returns -1 past the threshold
      .select(col("id_a"), col("id_b"), levenshtein(col("s_a"), col("s_b"), k).as("dist"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .distinct()

    // the branches share their column order: one positional union, with no
    // by-name resolution pass over the analysed branch plans
    candidateBranches(pin)(df, idCol, strCol, maxDist).map(verify).reduce(_ union _)
  }

  /** Upper length bound for the deletion-neighborhood branch (strings up
    * to this length block on ≤k-deletion variants instead of rarest-gram
    * prefixes). Variant volume per string is O(len^k) values of ~len bytes,
    * so the branch must stay bounded; past the bound the Ed-Join prefix
    * branch takes over, whose per-string blocking state is O(k²) grams at
    * any length. Overridable for tuning (`graft.fuzzy.symdelete.maxlen`). */
  private def symDeleteMaxLen: Int =
    graft.core.SysProps.int("graft.fuzzy.symdelete.maxlen", 40, min = 0)

  /** Branch candidate frames `(id_a, id_b, s_a, s_b)` (symdelete, prefix,
    * segment, tiny); the variant and prefix frames go through `pin`. Each
    * stage is one projection (no `withColumn` chains): the classic Dataset
    * analyses the whole growing plan at every step, so the step count is
    * the plan-construction cost. */
  private def candidateBranches(pin: CallCache.Pin)(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int): Seq[DataFrame] = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val k = maxDist
    val q = k + 1            // gram size; also the segment count
    val prefLen = k * q + 1  // Ed-Join prefix: k·q + 1 rarest grams
    val medMax = (k + 1) * (k + 1) - 1 // last length where |G| <= k·q
    // deletion-neighborhood band active for k <= 2 only (variant
    // generation is written out per deletion count)
    val symMax = symDeleteMaxLen
    val useSym = k <= 2 && symMax > medMax

    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"),
      length(col(strCol)).as("len"))

    // ---- branch 0: DELETION-NEIGHBORHOOD blocking (SymSpell family —
    // public: Garbe's symmetric-delete spell correction; the completeness
    // argument is the classic LCS-skeleton one): if lev(s1, s2) <= k with
    // a substitutions, b deletions, c insertions (a+b+c <= k), deleting
    // from s1 the a+b <= k positions it contributes to edits and from s2
    // the a+c <= k positions it contributes yields the SAME skeleton —
    // so two within-distance strings always share a <=k-deletion variant,
    // and the candidate join is an equi-join on variant strings. Unlike
    // rarest-gram prefixes, variant keys carry the WHOLE residual string,
    // so corpus-wide boilerplate ("Customer#…") cannot degenerate the
    // blocking: two strings collide only when they agree on everything
    // except <=k positions per side — candidate volume tracks true-pair
    // volume (measured at sf0.1: 0.58M candidate instances vs the prefix
    // branch's 33.8M, a 58x reduction for identical output). Routed by
    // the pair's SHORTER side in (medMax, symMax]; the variant frame
    // includes partner lengths up to symMax + k (|len diff| > k can never
    // match). Variants are deduped per (id, v): a run of r identical
    // chars yields the same variant for any of its r deletions, and
    // un-deduped duplicates would multiply join instances r_a × r_b.
    val symBand0 = base.filter(col("len") > medMax && col("len") <= symMax + k)
    val symBand = if (useSym) TextOps.spreadNarrow(symBand0, col("id")) else symBand0
    val d0 = symBand.select(col("id"), col("s"), col("len"), col("s").as("v"))
    val d1 = symBand
      .select(col("id"), col("s"), col("len"),
        explode(sequence(lit(1), col("len"))).as("i"))
      .select(col("id"), col("s"), col("len"),
        concat(col("s").substr(lit(1), col("i") - 1),
          col("s").substr(col("i") + 1, col("len") - col("i"))).as("v"))
    val d2 = symBand
      .select(col("id"), col("s"), col("len"),
        explode(sequence(lit(1), col("len") - 1)).as("i"))
      .select(col("id"), col("s"), col("len"), col("i"),
        explode(sequence(col("i") + 1, col("len"))).as("j"))
      .select(col("id"), col("s"), col("len"),
        concat(col("s").substr(lit(1), col("i") - 1),
          col("s").substr(col("i") + 1, col("j") - col("i") - 1),
          col("s").substr(col("j") + 1, col("len") - col("j"))).as("v"))
    val variants0 = (if (k >= 2) d0.union(d1).union(d2) else d0.union(d1))
      .dropDuplicates("id", "v")
    val variants = if (useSym) pin(variants0) else variants0
    val symCand =
      if (!useSym) base.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
        col("s").as("s_a"), col("s").as("s_b"))
      else variants
        .select(col("v"), col("id").as("id_a"), col("len").as("len_x"), col("s").as("s_a"))
        .join(variants.select(col("v"), col("id").as("id_b"), col("len").as("len_y"),
          col("s").as("s_b")), "v")
        .filter(col("id_a") < col("id_b") &&
          abs(col("len_x") - col("len_y")) <= k &&
          least(col("len_x"), col("len_y")).between(medMax + 1, symMax))
        .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))

    // ---- branch 1: Ed-Join rarest-gram prefixes (both sides past the
    // symdelete band; with the band active the shorter side must exceed
    // symMax, else any pair length > medMax)
    val prefixFloor = if (useSym) symMax else medMax
    val long = base.filter(col("len") > prefixFloor)
    val grams = long
      .select(col("id"), col("s"), col("len"),
        explode(sequence(lit(1), col("len") - (q - 1))).as("pos"))
      .select(col("id"), col("s"), col("len"), col("pos"),
        col("s").substr(col("pos"), lit(q)).as("g"))
    val gdf = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    // one partition-by-id exchange ranks the grams rarest-first; ties break
    // on (gram, pos) so the global order is total and both join sides of a
    // pair rank identically
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("gdf").asc, col("g").asc, col("pos").asc)
    // Prefix rows carry the string (id, len, g, s): the self-join output is
    // pipelined straight into the banded-Levenshtein verify (no pair-level
    // exchange — see editDistanceJoinPlan), so the string column rides the
    // join instead of re-attaching via two post-distinct joins. On
    // boilerplate-heavy fixed-format corpora the prefix buckets can
    // degenerate toward all-pairs (every string carries the same
    // near-constant grams, measured C(5000,2) exactly at sf0.1), which is
    // precisely why the wide pair stream must stay shuffle-free. The same
    // gram at two positions blocks the same pairs, so (id, g) dedups —
    // without it a degenerate hot gram multiplies its per-string
    // occurrence count into the join output multiplicatively.
    // Pinned: the self-join consumes the gram/df/window chain twice.
    val prefix = pin(grams.join(gdf, "g")
      .select(col("id"), col("s"), col("len"), col("g"), row_number().over(w).as("rn"))
      .filter(col("rn") <= prefLen)
      .select(col("id"), col("s"), col("len"), col("g"))
      .dropDuplicates("id", "g"))
    val prefixCand = prefix
      .select(col("g"), col("id").as("id_a"), col("len").as("len_x"), col("s").as("s_a"))
      .join(prefix.select(col("g"), col("id").as("id_b"), col("len").as("len_y"),
        col("s").as("s_b")), "g")
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_x") - col("len_y")) <= k)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))

    // ---- branch 2: PassJoin segments (shorter side in [k+1, medMax]).
    // Even partition of a length-L string: segment i in [0, k] has length
    // floor(L/(k+1)) (+1 for the first L mod (k+1) segments) and 0-based
    // start i*floor(L/(k+1)) + min(i, L mod (k+1)).
    def segLen(lc: Column, i: Column): Column =
      (floor(lc / q) + when(i < lc % q, 1).otherwise(0)).cast("int")
    def segStart(lc: Column, i: Column): Column =
      (i * floor(lc / q) + least(i, lc % q)).cast("int")

    val idx = base.filter(col("len") >= q && col("len") <= medMax)
      .select(col("id"), col("s"), col("len"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .select(col("id").as("id_x"), col("s").as("s_x"), col("len").as("len_x"),
        col("i"),
        col("s").substr(segStart(col("len"), col("i")) + 1,
          segLen(col("len"), col("i"))).as("seg"))
    // probe side: any string a segment-indexed string could match (its own
    // length within +-k of an indexed length) emits, for every candidate
    // source length Ls, the substrings that could equal source segment i —
    // the segment's own span displaced by at most k (the complete PassJoin
    // position window)
    val probeCols = Seq("id", "s", "len", "Ls", "i").map(col)
    val segProbe = base.filter(col("len") >= q - k && col("len") <= medMax + k)
      .select(col("id"), col("s"), col("len"),
        explode(sequence(col("len") - k, col("len") + k)).as("Ls"))
      .filter(col("Ls") >= q && col("Ls") <= medMax)
      .select(col("id"), col("s"), col("len"), col("Ls"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .select(probeCols :+ segLen(col("Ls"), col("i")).as("slen") :+
        greatest(segStart(col("Ls"), col("i")) - k, lit(0)).as("p_lo"): _*)
      // p_hi reads the staged slen (its other reader is the substring below)
      .select(probeCols ++ Seq(col("slen"), col("p_lo"),
        least(segStart(col("Ls"), col("i")) + k, col("len") - col("slen")).as("p_hi")): _*)
      .filter(col("p_lo") <= col("p_hi"))
      .select(probeCols :+ col("slen") :+ explode(sequence(col("p_lo"), col("p_hi"))).as("p"): _*)
      .select(col("id").as("id_y"), col("s").as("s_y"), col("len").as("len_y"),
        col("Ls"), col("i"), col("s").substr(col("p") + 1, col("slen")).as("sub"))
    val segCand = idx.join(segProbe,
        idx("len_x") === segProbe("Ls") && idx("i") === segProbe("i") &&
          idx("seg") === segProbe("sub") && idx("id_x") =!= segProbe("id_y"))
      // route by the pair's SHORTER side: it must fall in the indexed band
      // [q, medMax] — below q the pair belongs to the tiny branch, above
      // medMax to the prefix branch (keeps the four branches disjoint)
      .filter(least(col("len_x"), col("len_y")).between(q, medMax))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        when(col("id_x") < col("id_y"), col("s_x")).otherwise(col("s_y")).as("s_a"),
        when(col("id_x") < col("id_y"), col("s_y")).otherwise(col("s_x")).as("s_b"))

    // ---- branch 3: tiny (shorter side len <= k) — see scaladoc.
    // The constant bucket key is pmod(id, 1) — always 0, but NOT
    // constant-foldable: a literal key would fold to `true` and the join
    // would plan as a nested loop instead of a (single-key) hash join.
    val tiny = base.filter(col("len") <= k)
      .select(col("id"), col("s"), col("len"), pmod(col("id"), lit(1)).as("_one"))
    val tinyOther = base.filter(col("len") <= 2 * k)
      .select(pmod(col("id"), lit(1)).as("_one"), col("id").as("id_y"),
        col("s").as("s_y"), col("len").as("len_y"))
    val tinyCand = tiny.join(tinyOther, "_one")
      .filter(col("id") =!= col("id_y") &&
        // shorter side must be the tiny side (dedup vs branch 2)
        least(col("len"), col("len_y")) <= k)
      .select(
        least(col("id"), col("id_y")).as("id_a"),
        greatest(col("id"), col("id_y")).as("id_b"),
        when(col("id") < col("id_y"), col("s")).otherwise(col("s_y")).as("s_a"),
        when(col("id") < col("id_y"), col("s_y")).otherwise(col("s")).as("s_b"))

    Seq(symCand, prefixCand, segCand, tinyCand)
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Call-scoped caching for the pipeline's multi-consumer operators (the
  * similarity joins, PageRank, source divergence).
  *
  * Each operator is a plan builder that takes a `pin: DataFrame => DataFrame`
  * and applies it to every frame its plan reads more than once. Run through
  * [[CallCache.apply]], `pin` caches the frame; the result is then finished
  * (by default `localCheckpoint(true)`, so it no longer depends on the pins)
  * and every pinned frame is unpersisted — also when building the plan or
  * finishing it throws. A long-lived session therefore keeps no cache entry
  * from any call. Called with `identity`, the same builder returns the lazy
  * plan whole, which is what the plan gates and `graft.Plans` inspect.
  */
private[graft] object CallCache {

  type Pin = DataFrame => DataFrame

  /** Runs `build` with a caching pin, checkpoints its result, releases the
    * pins. */
  def apply(build: Pin => DataFrame): DataFrame = run(build)(_.localCheckpoint(true))

  /** [[apply]] with a caller-chosen finishing action (`count()` for a
    * candidate-volume probe). */
  def run[T](build: Pin => DataFrame)(finish: DataFrame => T): T = {
    var pins = List.empty[DataFrame]
    try finish(build { df => pins ::= df.cache(); df })
    finally pins.foreach(_.unpersist())
  }
}

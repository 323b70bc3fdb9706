package graft.table

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

/** Best-effort post-commit file deletion, shared by the replace cleanup
  * ([[Transaction]]) and snapshot expiration ([[Maintenance]]): both
  * delete what only the snapshots they removed reach, through one
  * reachability rule ([[deleteUnreachable]]).
  *
  * The commit has already landed when these run, so failures must NOT
  * propagate — a read hiccup would make the caller believe a committed
  * operation failed — but they must not be silent either: a chronically
  * failing cleanup (revoked credentials, permission drift) would otherwise
  * leak orphans on every commit with zero signal until someone hand-runs
  * `remove_orphan_files`. Every skipped path gets a WARN, and the
  * process-lifetime [[failedDeletes]] counter gives ops (and the spec) a
  * number to alert on.
  */
private[graft] object Cleanup {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.table.Cleanup")

  /** Process-lifetime count of post-commit deletions that failed (files
    * left behind as re-collectable orphans). */
  val failedDeletes = new AtomicLong(0L)

  /** Deletes the files only the `removed` snapshots reach — data and
    * delete files first, then manifests, then manifest lists — minus every
    * file a `kept` snapshot still references (a file shared across refs
    * survives). Reachability comes from manifest metadata, never from a
    * listing; `removed` snapshots' lists and manifests must still exist.
    * Runs after the commit that removed them has landed, so nothing here
    * propagates: a failed read aborts the cleanup with a WARN and a count,
    * and a failed delete leaves a re-collectable orphan. */
  def deleteUnreachable(conf: org.apache.hadoop.conf.Configuration, table: IceTable,
                        removed: Iterable[graft.spec.Snapshot],
                        kept: Iterable[graft.spec.Snapshot], context: String): Unit =
    if (removed.nonEmpty) try {
      // (data and delete files, manifests, manifest lists) of a snapshot set
      def reach(snaps: Iterable[graft.spec.Snapshot]): Seq[Set[String]] = {
        val ss = snaps.toSet
        Seq(ss.flatMap(s => table.entries(s)).map(_.dataFile.filePath),
          ss.flatMap(s => table.manifests(s)).map(_.manifestPath),
          ss.map(_.manifestList))
      }
      reach(removed).zip(reach(kept)).foreach { case (gone, live) => rm(conf, gone -- live, context) }
    } catch {
      case NonFatal(e) =>
        failedDeletes.incrementAndGet()
        log.warn(s"$context aborted before deleting " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — superseded files " +
          "remain as re-collectable orphans (see remove_orphan_files)")
    }

  /** Deletes each path, swallowing (but logging + counting) per-file
    * failures. Returns the number of failed deletions. */
  def rm(conf: org.apache.hadoop.conf.Configuration, paths: Iterable[String],
         context: String): Int = {
    var failed = 0
    paths.foreach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(conf).delete(path, false): Unit
      } catch {
        case NonFatal(e) =>
          failed += 1
          failedDeletes.incrementAndGet()
          log.warn(s"$context: failed to delete $p " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "left as a re-collectable orphan (see remove_orphan_files)")
      }
    }
    if (failed > 0)
      log.warn(s"$context: $failed deletion(s) failed; files remain as orphans")
    failed
  }
}

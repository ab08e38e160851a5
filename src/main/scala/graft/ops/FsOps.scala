package graft.ops

import scala.jdk.CollectionConverters._

/** The one recursive-delete helper (r14 review: five verbatim copies
  * had grown across StagedArtifact, Materialize, NightlyRun,
  * OpsQueries and CurateQueries — a fix to any of them had to land
  * five times or the copies silently diverged).
  */
object FsOps {

  /** Best-effort recursive delete: idempotent, tolerant of concurrent
    * deleters (listFiles() returning null — IO error or a tmp cleaner
    * racing the listing — is treated as already-gone; this often runs
    * in finally blocks, where an NPE would mask the original failure).
    * Failures are deliberately silent: every caller is either
    * reclaiming its OWN residue (losing race branches, shutdown
    * hooks) or immediately followed by an operation that fails loudly
    * if the tree still stands. Callers needing the loud contract use
    * [[rmTreeOrThrow]]. A symlink is deleted as itself and never
    * descended into: `listFiles()` on a link to a directory lists the
    * TARGET's entries, which lie outside the tree being removed.
    */
  def rmTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Total bytes of regular files under a tree — filesystem metadata
    * only, no Spark job, so builders may call it at query-construction
    * time (LazyRegistrySpec's no-job contract). Used to derive
    * scale-adaptive partition counts from data actually on disk
    * (q100's state-store sizing); a missing path sizes as 0.
    * Symlinks are NOT followed (r21 ADVICE: the old File.listFiles
    * recursion looped forever on a cyclic link under the tree) — the
    * callers measure Spark-written staging dirs, where a link is
    * never part of the data.
    */
  def treeBytes(f: java.io.File): Long = {
    val p = f.toPath
    if (!java.nio.file.Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) 0L
    else scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
      // Files.walk does not follow symlinks by default; a link is
      // visited as itself (not a regular file) and never recursed into
      s.iterator().asScala
        .filter(q => java.nio.file.Files.isRegularFile(q,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .map(q => java.nio.file.Files.size(q)).sum
    }
  }

  /** Recursive delete that fails LOUDLY if the tree still stands
    * afterwards (held handle, permissions, NFS residue) — for callers
    * whose next step silently corrupts state when the delete quietly
    * fails (e.g. a mart-commit retire sweep that then marks the slice
    * committed over surviving duplicate rows).
    */
  def rmTreeOrThrow(f: java.io.File): Unit = {
    rmTree(f)
    if (f.exists())
      throw new java.io.IOException(
        s"cannot delete ${f.getPath}: tree still present after delete")
  }
}

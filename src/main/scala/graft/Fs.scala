package graft

import java.nio.file.{Files, Path}

/** Closing wrappers for the three `java.nio.file.Files` stream idioms the
  * staging/landing-zone code uses. `Files.list`/`Files.walk` return
  * streams backed by OPEN DIRECTORY HANDLES that must be closed
  * explicitly — the bare `Files.list(dir).filter(...).count()` idiom
  * leaks one fd per call until GC finalization, and the streaming gates
  * pay it on every invocation (2+ per Bench best-of-2, more under drift
  * retries and the scale ladders), so a long session on an fd-capped
  * host can hit EMFILE in unrelated code. */
object Fs {

  private def withStream[A](st: java.util.stream.Stream[Path])(
      f: java.util.stream.Stream[Path] => A): A =
    try f(st) finally st.close()

  /** Recursive delete (children before parents). No-op if absent. */
  def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      withStream(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.delete(q))
      }

  /** First direct child whose path string ends with `suffix`, if any. */
  def firstWithSuffix(dir: Path, suffix: String): Option[Path] =
    withStream(Files.list(dir)) { st =>
      val first = st.filter(p => p.toString.endsWith(suffix)).findFirst()
      if (first.isPresent) Some(first.get()) else None
    }

  /** Count of direct children whose path string ends with `suffix`. */
  def countWithSuffix(dir: Path, suffix: String): Long =
    withStream(Files.list(dir))(_.filter(p => p.toString.endsWith(suffix)).count())

  /** Delete direct children whose file NAME starts with `prefix`. */
  def deleteChildrenWithPrefix(dir: Path, prefix: String): Unit =
    withStream(Files.list(dir)) {
      _.filter(p => p.getFileName.toString.startsWith(prefix))
        .forEach(p => Files.delete(p))
    }

  /** Recursive copy (dirs then files, parents before children) — used to
    * clone a pristine marker-gated standing index into a mutable working
    * copy so a stream gate's commits never touch the amortized build. */
  def copyRec(src: Path, dst: Path): Unit =
    withStream(Files.walk(src)) {
      _.sorted().forEach { p =>
        val q = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }

  /** Recursive HARD-LINK clone — metadata-scale however big the tree,
    * correct whenever the consumer's mutations are APPEND-ONLY (new files
    * only; linked bytes are never rewritten in place — the standing-index
    * commit contract). Small non-data METADATA files (leading-underscore
    * names: the standing-index marker and build stats, `_SUCCESS`) are
    * byte-COPIED, not linked: those are the files an index protocol may
    * rewrite IN PLACE (a write truncates the inode), and a linked inode
    * would silently corrupt the pristine source's marker the first time
    * a clone re-stamps. Falls back to byte copy per data file when the
    * filesystem refuses the link (cross-device, unsupported). */
  def linkRec(src: Path, dst: Path): Unit =
    withStream(Files.walk(src)) {
      _.sorted().forEach { p =>
        val q = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else if (p.getFileName.toString.startsWith("_")) {
          Files.copy(p, q,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        } else
          try { Files.createLink(q, p); () }
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              Files.copy(p, q,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              ()
          }
        ()
      }
    }
}

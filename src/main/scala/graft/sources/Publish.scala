package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one publish step of both table formats: every Delta log file
  * and every Iceberg `vN.metadata.json` becomes visible through
  * [[publishIfAbsent]], atomically across threads AND processes. */
object Publish {

  /** Move the fully written, closed `tmp` to `dest` only if `dest` does
    * not exist; `tmp` is gone afterwards either way. Returns whether
    * this caller won `dest`.
    *
    * Decided by the path's scheme, not the `FileSystem` class (an
    * unbound `file://` resolves to a Hive proxy whose rename refuses an
    * existing target, while [[FastLocalFileSystem]]'s replaces one):
    *   - `file`: `Files.createLink(dest, tmp)`, which the kernel refuses
    *     atomically when `dest` exists. Hadoop's local `rename` replaces
    *     an existing target and `create(p, overwrite = false)` is
    *     check-then-truncate, so neither may publish there.
    *   - anything else: `rename`, which HDFS refuses onto an existing
    *     target. Object stores need a conditional PUT instead; none is
    *     wired here.
    * A link failure other than an existing `dest` propagates. */
  def publishIfAbsent(f: FileSystem, tmp: Path, dest: Path): Boolean =
    try {
      val d = f.makeQualified(dest)
      if (d.toUri.getScheme != "file") f.rename(tmp, dest)
      else try {
        Files.createLink(Paths.get(d.toUri.getPath),
          Paths.get(f.makeQualified(tmp).toUri.getPath))
        true
      } catch { case _: FileAlreadyExistsException => false }
    } finally { f.delete(tmp, false); () }
}

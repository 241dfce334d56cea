package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only local FileSystem under its own `faulty:///` scheme (the
  * shape of Spark's CheckpointFileManagerSuite
  * RenameReturnsFalseFileSystem): behaves like the raw local FS except
  * that, once armed, the Nth rename whose TARGET matches a predicate
  * fails — by returning false, as HDFS and object stores report many
  * rename failures, or by throwing. Register it per session with
  * `spark.hadoop.fs.faulty.impl` plus
  * `spark.hadoop.fs.faulty.impl.disable.cache=true`, so no other
  * suite ever sees the scheme; the arming state is global because
  * every `getFileSystem` call builds a fresh instance.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (FaultyFileSystem.trips(dst)) {
      if (FaultyFileSystem.throwing)
        throw new java.io.IOException(s"injected rename failure: $src -> $dst")
      false
    } else super.rename(src, dst)
}

object FaultyFileSystem {
  @volatile private var target: Path => Boolean = _ => false
  @volatile private var remaining = 0
  @volatile private var throwing = false
  @volatile private var fired = false

  /** Fail the `nth` rename onto a path matching `matches` (once). */
  def arm(nth: Int, throws: Boolean)(matches: Path => Boolean): Unit =
    synchronized {
      target = matches; remaining = nth; throwing = throws; fired = false
    }

  /** Disarm; true iff the armed fault fired. */
  def disarm(): Boolean = synchronized {
    remaining = 0
    fired
  }

  private def trips(dst: Path): Boolean = synchronized {
    if (remaining > 0 && target(dst)) {
      remaining -= 1
      fired = remaining == 0
      fired
    } else false
  }
}

package graft.core

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A [[MockRemoteFs]] under `crashfs://test` that dies on cue: it counts
  * the MUTATING calls (create, rename, delete, mkdirs) that touch a path
  * outside every staging dir, and, armed at `k`, fails call `k` and
  * every mutating call after it — staging writes included — because the
  * process is dead. Staging dirs (`log.<op>[-<uuid>]`,
  * `snapshot.compact-<uuid>`) are where Spark writes a batch before the
  * commit protocol runs, so only the protocol's own steps are numbered.
  * Calls a filesystem method makes on itself (RawLocalFileSystem's
  * recursive mkdirs, a create's parent mkdirs) count once, at the outer
  * call. The count and the crash are per thread: a protocol's own steps
  * run on the thread that called it (Spark's executor threads only write
  * inside staging), so crash points can be run concurrently.
  */
class CrashFs extends MockRemoteFs {
  override def getUri: URI = URI.create("crashfs://test")
  override def getScheme: String = "crashfs"
  override def makeQualified(path: Path): Path =
    new Path("crashfs://test" + super.makeQualified(path).toUri.getPath)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    CrashFs.step(f)(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    CrashFs.step(f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.step(src, dst)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    CrashFs.step(f)(super.delete(f, recursive))

  override def mkdirs(f: Path): Boolean =
    CrashFs.step(f)(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    CrashFs.step(f)(super.mkdirs(f, permission))
}

/** The `AbstractFileSystem` binding for `crashfs:`, so
  * [[WarehouseIO.overwriteRename]] publishes through FileContext's
  * rename(OVERWRITE) — one atomic local rename, as on HDFS — instead of
  * the delete+rename fallback of an unbound scheme, whose gap would lose
  * every manifest it replaces.
  */
class CrashAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CrashFs, conf, "crashfs", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (!fsImpl.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
}

object CrashFs {
  private val StagingDir =
    ".*/(log\\.[a-z]+(-[^/]*)?|snapshot\\.compact-[^/]*)(/.*)?".r

  private final class State {
    var calls = 0L
    var armedAt = 0L
    var dead = false
    var depth = 0
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  /** Zero this thread's call count and crash at call `k` (0 = never). */
  def arm(k: Long): Unit = {
    val s = state.get
    s.calls = 0L; s.armedAt = k; s.dead = false
  }

  /** Back to life, counting nothing. */
  def disarm(): Unit = arm(0L)

  /** This thread's mutating calls outside staging since [[arm]]. */
  def count: Long = state.get.calls

  private def inStaging(p: Path): Boolean =
    StagingDir.pattern.matcher(p.toUri.getPath).matches()

  private def step[T](paths: Path*)(body: => T): T = {
    val s = state.get
    if (s.depth == 0) {
      if (s.dead) throw new java.io.IOException("crashfs: process is dead")
      if (!paths.forall(inStaging)) {
        s.calls += 1
        if (s.armedAt > 0 && s.calls >= s.armedAt) {
          s.dead = true
          throw new java.io.IOException(s"crashfs: crash at call ${s.armedAt}")
        }
      }
    }
    s.depth += 1
    try body finally s.depth -= 1
  }
}

package graft.core

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A [[MockRemoteFs]] variant that emulates an OBJECT STORE's broken
  * commit primitives: `create(overwrite=false)` is deliberately NOT
  * check-and-act — it checks existence, then sleeps through a wide race
  * window, then writes unconditionally (exactly the S3 PUT shape, where
  * the existence check and the write are separate requests). Racing
  * callers therefore ALL "win" the exclusive create — the silent
  * corruption the CommitCoordinator SPI exists to prevent.
  */
class RacyMockFs extends MockRemoteFs {
  override def getUri: URI = URI.create("racyfs://test")
  override def getScheme: String = "racyfs"
  override def makeQualified(path: Path): Path = {
    val q = super.makeQualified(path)
    new Path("racyfs://test" + q.toUri.getPath)
  }

  // RawLocalFileSystem routes `create(path, overwrite)` through the
  // first overload and permission-carrying creates through the second,
  // so both open the same race window
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    checkThenSleep(f, overwrite)
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    checkThenSleep(f, overwrite)
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)
  }

  private def checkThenSleep(f: Path, overwrite: Boolean): Unit =
    if (!overwrite) {
      if (exists(f))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
      Thread.sleep(80) // the check and the act are separate requests
    }
}

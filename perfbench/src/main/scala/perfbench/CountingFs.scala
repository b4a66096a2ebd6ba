package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with its metadata operations counted in Hadoop's
  * own per-filesystem statistics, which the stock local filesystem leaves
  * at zero: opens and status reads as read ops, listings as large read
  * ops, creates, renames, deletes and mkdirs as write ops. Traced runs
  * install it as the `file:` scheme's implementation. */
final class CountingRawLocalFs extends RawLocalFileSystem {
  private def read(): Unit = statistics.incrementReadOps(1)
  private def write(): Unit = statistics.incrementWriteOps(1)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = {
    statistics.incrementLargeReadOps(1)
    super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { write(); super.delete(p, recursive) }
  override def mkdirs(f: Path): Boolean = { write(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

final class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)

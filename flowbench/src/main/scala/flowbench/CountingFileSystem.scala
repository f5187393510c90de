package flowbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local file system with every top-level call counted. Traced
  * runs install it through `spark.hadoop.fs.file.impl` (and its
  * `FileContext` twin, `org.apache.hadoop.fs.local.FlowbenchCountingFs`,
  * through `spark.hadoop.fs.AbstractFileSystem.file.impl`); calls the
  * local file system makes on itself (exists -> getFileStatus, checksum
  * siblings) count once, at the outermost call. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(List)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(Stat)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(Exists)(super.exists(f))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(Mkdirs)(super.mkdirs(f, permission))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
}

object CountingFileSystem {
  val List = 0; val Stat = 1; val Exists = 2; val Rename = 3
  val Delete = 4; val Mkdirs = 5; val Create = 6; val Open = 7
  private val N = 8
  private val counts = new AtomicLongArray(N)
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  def counted[T](op: Int)(f: => T): T = {
    val d = depth.get()
    if (d == 0) counts.incrementAndGet(op)
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  def snapshot(): Array[Long] = Array.tabulate(N)(counts.get)

  /** Metadata operations: list, stat, exists, rename, delete, mkdirs. */
  def metaOps(s: Array[Long]): Long = s.take(Create).sum
  def allOps(s: Array[Long]): Long = s.sum

  def delta(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(N)(i => b(i) - a(i))
}

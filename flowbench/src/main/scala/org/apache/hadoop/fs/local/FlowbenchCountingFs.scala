package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import flowbench.CountingFileSystem._

/** The `FileContext` side of the traced run's file-system counting:
  * Hadoop's local `AbstractFileSystem` (what Structured Streaming's
  * checkpoint manager writes through) with every top-level call counted
  * into the same counters as [[flowbench.CountingFileSystem]]. Lives in
  * this package because `LocalFs`'s constructors are package-private. */
class FlowbenchCountingFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def getFileStatus(f: Path): FileStatus = counted(Stat)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = counted(List)(super.listStatus(f))
  override def renameInternal(src: Path, dst: Path): Unit =
    counted(Rename)(super.renameInternal(src, dst))
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    counted(Rename)(super.renameInternal(src, dst, overwrite))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit =
    counted(Mkdirs)(super.mkdir(dir, permission, createParent))
  override def createInternal(f: Path, flag: EnumSet[CreateFlag], permission: FsPermission,
                              bufferSize: Int, replication: Short, blockSize: Long,
                              progress: Progressable, checksumOpt: ChecksumOpt,
                              createParent: Boolean): FSDataOutputStream =
    counted(Create)(super.createInternal(f, flag, permission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
}

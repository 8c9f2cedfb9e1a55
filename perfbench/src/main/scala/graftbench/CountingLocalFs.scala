package graftbench

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * The local filesystem, counting its metadata and open/create calls by
 * kind against the bench call that is running (see [[Trace.countFs]]).
 * Installed for traced runs only, through `spark.hadoop.fs.file.impl`.
 *
 * Blind spot: snapshot commits on `file:` create their version file
 * through `java.nio` (`Snapshots.createExclusive`), not through Hadoop,
 * so commit creates are not counted here.
 */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] = { Trace.countFs(List); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { Trace.countFs(Status); super.getFileStatus(f) }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Trace.countFs(Open); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.countFs(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { Trace.countFs(Rename); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.countFs(Delete); super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = { Trace.countFs(Mkdirs); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.countFs(Mkdirs); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  // indices into Trace.FsKinds
  private val List = 0
  private val Status = 1
  private val Open = 2
  private val Create = 3
  private val Rename = 4
  private val Delete = 5
  private val Mkdirs = 6
}

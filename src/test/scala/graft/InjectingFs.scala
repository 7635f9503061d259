package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the `inject:` scheme, running
  * [[InjectingFs.hook]] before every listing, directory create and
  * file create — where the crash and race specs inject their faults.
  * A store addressed as `inject://<absolute path>` lives on the local
  * disk at that path. */
class InjectingFs extends RawLocalFileSystem {
  import InjectingFs.{hook, Create, Listing, Mkdir}

  override def getUri: URI = URI.create("inject:///")
  override def getScheme: String = "inject"

  // Plain statuses: the local ones load their permissions lazily
  // through a `file:` URI, which an `inject:` path is not, so a
  // recursive `listFiles` would fail on them.
  override def listStatus(f: Path): Array[FileStatus] = {
    hook(Listing, f)
    super.listStatus(f).map(st => new FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getPath))
  }

  override def mkdirs(f: Path): Boolean = {
    hook(Mkdir, f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hook(Mkdir, f)
    super.mkdirs(f, permission)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hook(Create, f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hook(Create, f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object InjectingFs {
  sealed trait Op
  case object Listing extends Op
  case object Mkdir extends Op
  case object Create extends Op

  private val none: (Op, Path) => Unit = (_, _) => ()

  /** The fault to inject; runs on the driver and on local executors. */
  @volatile var hook: (Op, Path) => Unit = none

  /** Registers the scheme with `spark` and returns the `inject:` URI of
    * a fresh local temp directory. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.inject.impl", classOf[InjectingFs].getName)
    "inject://" + java.nio.file.Files.createTempDirectory(prefix)
  }

  /** The local path of an `inject:` path. */
  def local(path: String): String = new Path(path).toUri.getPath

  /** Runs `body` with `h` installed, then clears it. */
  def withHook[T](h: (Op, Path) => Unit)(body: => T): T = {
    hook = h
    try body finally hook = none
  }
}

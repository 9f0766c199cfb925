package graft

import java.util.EnumSet
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A Hadoop `FileSystem` with its OWN scheme (`graftfs://`), backed by
  * local disk: proves the publishing layer resolves filesystems from the
  * path scheme via the Hadoop API instead of assuming `java.nio.file` /
  * POSIX — the same registration mechanism (fs.<scheme>.impl) an s3a://
  * or gs:// connector uses in production. Instantiated reflectively by
  * Hadoop, so it must be a top-level class with a no-arg constructor.
  *
  * Every mutating call (create, mkdirs, delete, rename) is recorded in
  * [[GraftTestFs.mutations]], so a test can assert that an operation
  * changes nothing on disk, or which files it creates. A call the base
  * class makes from inside another mutating call (create making its
  * parent directory) is part of the outer call and is not recorded
  * again. `Fs.createExclusive` reaches this class through
  * `create(overwrite = false)`, so commit markers, journals and leases
  * are recorded too; that create is atomic here (an O_EXCL claim of the
  * path before the base class opens it), so exclusivity holds on this
  * scheme as it does on `file:`. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import GraftTestFs.mutating

  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f) {
      claim(f, overwrite)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f) {
      claim(f, overwrite)
      super.create(f, permission, true, bufferSize, replication, blockSize,
        progress)
    }

  /** The base class's `overwrite = false` create checks for the file and
    * then opens it, so two racing creators can both win. Without
    * `overwrite`, claim the path first with an atomic create-new; the
    * base class then opens the file this caller owns. */
  private def claim(f: Path, overwrite: Boolean): Unit =
    if (!overwrite) {
      mkdirs(f.getParent)
      try { java.nio.file.Files.createFile(pathToFile(f).toPath); () }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"File already exists: $f") }
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def mkdirs(f: Path): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f, permission))

  override def delete(f: Path, recursive: Boolean): Boolean =
    mutating("delete", f)(super.delete(f, recursive))

  override def rename(src: Path, dst: Path): Boolean =
    mutating("rename", src)(super.rename(src, dst))
}

object GraftTestFs {
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Every recorded mutating call so far, oldest first, as "op path". */
  def mutations: Seq[String] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  private def mutating[T](op: String, p: Path)(body: => T): T = {
    if (depth.get == 0) log.add(s"$op $p")
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

package graft.pipelines

import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Thin helpers over `org.apache.hadoop.fs.FileSystem` — the storage
  * abstraction the publishing/maintenance utilities ([[Versioned]],
  * [[Compaction]], [[Runner]]'s gates and markers) run on, so the same code
  * executes against local disk, HDFS, or any object-store connector
  * (s3a://, gs://, abfs://) resolved from the scheme of the path. This
  * replaces the earlier `java.nio.file` implementation, which could only
  * ever run on a local POSIX filesystem — the reference's sink layer is
  * an object store (dag-extract.py:75-86 PUTs Hive-keyed objects to S3),
  * so a publishing layer that cannot execute against one is a parity gap.
  *
  * Atomicity contract used by callers:
  *  - `createExclusive` (create with overwrite=false) is the commit
  *    primitive; losing the race surfaces as EITHER
  *    `java.nio.file.FileAlreadyExistsException` (local-FS O_EXCL path)
  *    or `org.apache.hadoop.fs.FileAlreadyExistsException` (Hadoop
  *    connectors) — classify via [[Fs.isAlreadyExists]], never a
  *    single-type catch. At most one writer wins WHERE THE CONNECTOR ENFORCES
  *    EXCLUSIVE CREATE ATOMICALLY — HDFS does (namenode); local disk
  *    does through the kernel's O_EXCL (the method special-cases local
  *    filesystems because HADOOP's local create is a non-atomic
  *    check-then-open — see createExclusive); on S3A the
  *    classic implementation is a non-atomic existence-check-then-PUT
  *    (two racing writers can both "win"), and only recent Hadoop with
  *    S3 conditional-write support restores the guarantee. Deployments
  *    on stores without it rely on the SINGLE-WRITER-per-table
  *    deployment contract (one scheduler slot owns each table's
  *    publishes) as the load-bearing defense; the marker then only has
  *    to make a committed version VISIBLE atomically, which a PUT is.
  *  - No `rename` helper: a rename is atomic on HDFS and single-volume
  *    local disk but copy+delete (NOT atomic) on S3A, so no publish in
  *    the engine renames.
  *
  * The Hadoop `Configuration` comes from the active Spark session (so
  * per-session `fs.<scheme>.impl` registrations and credentials apply);
  * a bare default is used when no session is up.
  */
object Fs {

  def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def of(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(p: Path): Boolean = of(p).exists(p)

  def mkdirs(p: Path): Unit = of(p).mkdirs(p)

  /** Children of `p`, empty if `p` does not exist. */
  def list(p: Path): Seq[FileStatus] =
    try of(p).listStatus(p).toSeq
    catch { case _: FileNotFoundException => Nil }

  def readString(p: Path): String = {
    val in = of(p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Write a small text file, replacing any existing one. Not atomic on
    * its own — callers needing atomic visibility commit via
    * [[createExclusive]] of a separate marker AFTER this lands. */
  def writeString(p: Path, s: String): Unit = {
    val out = of(p).create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  /** True when `e` is either already-exists exception type a failed
    * [[createExclusive]] can surface. CONTRACT NOTE: the local-FS fast
    * path below throws `java.nio.file.FileAlreadyExistsException`, NOT
    * Hadoop's `org.apache.hadoop.fs.FileAlreadyExistsException` (both
    * are IOExceptions, but they share no closer supertype) — callers
    * classifying the benign "marker already exists" race must match
    * BOTH, i.e. use this helper, never a single-type catch. A mixed
    * deployment where an old binary catches only the Hadoop type on
    * shared local storage would misread the race as fatal. */
  def isAlreadyExists(e: Throwable): Boolean =
    e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
      e.isInstanceOf[java.nio.file.FileAlreadyExistsException]

  /** Exclusive create (the commit primitive): fails with an
    * already-exists exception if `p` exists — at most one writer can
    * win a given marker. The exception TYPE differs by connector (nio's
    * on local disk, Hadoop's elsewhere); callers classify via
    * [[isAlreadyExists]], never a single-type catch.
    *
    * Local filesystems get the kernel's O_EXCL (`CREATE_NEW`) through
    * java.nio: Hadoop's `LocalFileSystem`/`RawLocalFileSystem`
    * `create(overwrite = false)` is an exists-CHECK followed by a plain
    * open — two processes can interleave between the check and the open
    * and BOTH win (found by the cross-process LeaseStressSpec: two
    * forked JVMs inside one lease's critical section), and the
    * checksummed wrapper can additionally throw after the data file
    * already landed, stranding a half-created marker. `CREATE_NEW` is a
    * single atomic syscall, so neither failure mode exists. Only the
    * `file:` scheme takes this path; every other scheme keeps the
    * Hadoop call, including a local-disk FileSystem registered under
    * its own scheme, so that connector sees (and must make atomic) its
    * own exclusive creates. HDFS enforces the exclusive create at the
    * namenode; object stores without atomic conditional-create rely on
    * the documented single-writer deployment contract (header above). */
  def createExclusive(p: Path, s: String): Unit = of(p) match {
    case local if local.getUri.getScheme == "file" =>
      val f = java.nio.file.Paths.get(
        local.makeQualified(p).toUri.getPath)
      val parent = f.getParent
      // isDirectory FOLLOWS links, so a parent that is a symlink to a
      // directory is left alone (createDirectories would throw
      // FileAlreadyExistsException at it — NOFOLLOW check); and if an
      // ancestor exists as a plain file, surface that as a plain
      // IOException: a FileAlreadyExistsException from here would read
      // to lease-acquire retry loops as the benign "marker already
      // exists" race and spin them forever
      if (parent != null && !java.nio.file.Files.isDirectory(parent)) {
        try java.nio.file.Files.createDirectories(parent)
        catch { case e: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(
            s"cannot create parent directory $parent", e) }
      }
      val ch = java.nio.file.Files.newByteChannel(f,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(s.getBytes("UTF-8"))); () }
      finally ch.close()
    case fs =>
      val out = fs.create(p, false)
      try out.write(s.getBytes("UTF-8"))
      finally out.close()
  }

  def deleteRecursive(p: Path): Unit = { of(p).delete(p, true); () }
}

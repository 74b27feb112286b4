package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrameWriter

/** Local-file primitives shared by the lakehouse writers and the
  * stream's checkpoint files. Three publish rules cover every file
  * they write: put-if-absent by link(2) ([[writeOnce]]), replace by
  * rename(2) ([[replaceAtomically]]), and parquet jobs staged in a
  * hidden directory that is removed on every exit ([[staged]]).
  *
  * Without Hadoop's native library, its local filesystem sets every
  * permission by starting a `chmod` child process: one per part file,
  * per `.crc` sibling and per task directory a parquet job creates.
  * [[ForkFreeLocalFileSystem]] sets the same bits with one syscall. */
object LocalFs {

  /** Writer options that route a Spark file job's `file:` I/O through
    * [[ForkFreeLocalFileSystem]]. Hadoop caches filesystems by scheme
    * and user, not by configuration, so the stock instance cached for
    * `file:` would win unless the job bypasses the cache. */
  private val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A hidden, unique sibling of `dst` to stage its bytes in. */
  def tempSibling(dst: Path): Path =
    dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")

  /** Publish the fully written `tmp` as `dst` exactly once. link(2)
    * fails with EEXIST atomically, so of racing publishers exactly one
    * wins; rename(2) would silently replace the winner's file. `tmp`
    * is removed either way. False when `dst` already existed. */
  def publishOnce(tmp: Path, dst: Path): Boolean =
    try { Files.createLink(dst, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)

  /** Write `body` as `dst` unless it exists: staged in a
    * [[tempSibling]], then [[publishOnce]]. */
  def writeOnce(dst: Path, body: String): Boolean = {
    val tmp = tempSibling(dst)
    Files.writeString(tmp, body, StandardOpenOption.CREATE_NEW)
    publishOnce(tmp, dst)
  }

  /** Replace `dst` with the fully written `tmp` by rename(2): readers
    * see the old file or the new one, never a partial one. */
  def replace(tmp: Path, dst: Path): Unit =
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)

  /** Write `body` as `dst`, replacing any previous file: staged in a
    * [[tempSibling]], then [[replace]]. No temp file outlives the call. */
  def replaceAtomically(dst: Path, body: String): Unit = {
    val tmp = tempSibling(dst)
    try {
      Files.writeString(tmp, body, StandardOpenOption.CREATE_NEW)
      replace(tmp, dst)
    } finally Files.deleteIfExists(tmp)
  }

  /** Run the parquet job `writer` into `stg`, a hidden directory the
    * caller names, and hand `use` the regular `*.parquet` files under
    * it. `stg` is removed however the job or `use` exits; moving the
    * files out of it is `use`'s work. */
  def staged[A](stg: Path, writer: DataFrameWriter[_])(use: Vector[Path] => A): A =
    try {
      writer.options(WriterOptions).parquet(stg.toString)
      val walk = Files.walk(stg)
      val parts =
        try walk.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
          .toVector
        finally walk.close()
      use(parts)
    } finally deleteTree(stg)

  /** Delete `p` and everything under it; nothing when `p` is absent. */
  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Hadoop configuration for the driver-side footer reads. Built once:
    * each `new Configuration()` re-parses Hadoop's XML defaults. */
  private lazy val footerConf = new Configuration()

  /** `read` applied to the open footer of the parquet file `p`
    * (metadata only: no row group bytes are read). */
  def footer[A](p: Path)(read: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(p.toString), footerConf))
    try read(r) finally r.close()
  }

  /** Row count of the parquet file `p`, from its footer. */
  def parquetRows(p: Path): Long = footer(p)(_.getRecordCount)

  /** The low nine mode bits as the permission set `chmod` leaves:
    * bit 8 is owner-read, bit 0 others-execute, in the order of
    * `PosixFilePermission.values`. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val all = PosixFilePermission.values
    for (bit <- 0 until 9 if (mode >> bit & 1) == 1) perms.add(all(8 - bit))
    perms
  }
}

/** Hadoop's checksummed local filesystem over
  * [[ForkFreeRawLocalFileSystem]]; the `fs.file.impl` of every
  * [[LocalFs.staged]] job. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's raw local filesystem with `setPermission` as a syscall
  * instead of a `chmod` process. A sticky bit, which the POSIX
  * permission set cannot express, still goes to `chmod`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      LocalFs.posix(permission.toShort.toInt))
}

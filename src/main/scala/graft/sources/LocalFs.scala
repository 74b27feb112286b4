package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-file primitives shared by the lakehouse writers and the
  * stream's checkpoint files.
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
  val WriterOptions: Map[String, String] = Map(
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
  * [[ForkFreeRawLocalFileSystem]]; the class `fs.file.impl` names in
  * [[LocalFs.WriterOptions]]. */
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

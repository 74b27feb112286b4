package graft.sources

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, StandardOpenOption, Path => JPath}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The stream's checkpoint file manager: offset and commit logs,
  * state-store delta and snapshot files, query metadata.
  *
  * On `file:` paths it writes and renames with `java.nio` instead of
  * Hadoop's `FileContext`, whose local rename starts a `readlink`
  * process per call when Hadoop's native library is absent, and whose
  * creates start a `chmod` per file. Put-if-absent publishes by
  * link(2) ([[LocalFs.publishOnce]]), which fails atomically when the
  * file exists; Spark's default checks and then renames. Overwrites
  * rename over the old file ([[LocalFs.replace]]). It writes no
  * `.crc` siblings; when it replaces or deletes a file it also deletes
  * the file's `.crc`, so a checkpoint the default manager started can
  * be resumed under this one and the other way round.
  *
  * Every other scheme gets what `CheckpointFileManager.create` builds
  * when the session names no manager class. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[sources] val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFile(path, hadoopConf))
      new LocalCheckpointFileManager.Local(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** Spark's own setting naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint file manager, unless the
    * session already names one: a value the user set wins. A stream
    * reads the setting when it starts. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.get(ConfKey, null) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isFile(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Hadoop's checksum file for `file`: `.<name>.crc` beside it. */
  private def crcOf(file: JPath): JPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  private def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private final class Local(root: Path, conf: Configuration)
      extends CheckpointFileManager {
    // raw: reads verify no .crc and listings show them (filtered below)
    private val fs = {
      val raw = new ForkFreeRawLocalFileSystem
      raw.initialize(URI.create("file:///"), conf)
      raw
    }
    private def file(p: Path): JPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val dst = file(p)
      new AtomicOutput(LocalFs.tempSibling(dst), dst, overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, (q: Path) => !isCrc(q.getName) && filter.accept(q))
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit = {
      fs.delete(p, true)
      Files.deleteIfExists(crcOf(file(p)))
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Bytes go to `tmp`; `close` publishes them as `dst` (replacing it
    * when `overwrite`, else failing with Hadoop's
    * `FileAlreadyExistsException` when it exists) and `cancel` drops
    * them. Neither leaves `tmp` behind. */
  private final class AtomicOutput(tmp: JPath, dst: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(dst))
            LocalFs.replace(tmp, dst)
          } else if (!LocalFs.publishOnce(tmp, dst))
            throw new FileAlreadyExistsException(s"$dst already exists")
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close()
        catch { case NonFatal(_) => () }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}

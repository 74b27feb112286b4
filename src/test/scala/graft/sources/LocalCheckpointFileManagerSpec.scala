package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.StreamingCompat
import graft.streaming.DataDrivenWindow.CompatRow

/** [[LocalCheckpointFileManager]]'s file contract on `file:` paths
  * (put-if-absent, cancel, overwrite over a Hadoop `.crc` sibling),
  * its delegation for other schemes, a compat stream into Delta that
  * Spark's default manager starts and this one resumes, and
  * [[ForkFreeRawLocalFileSystem]]'s mode bits against Hadoop's
  * `chmod`. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def names(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  private def write(m: CheckpointFileManager, p: HPath, body: String,
                    overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: HPath): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def manager(dir: Path) =
    new LocalCheckpointFileManager(new HPath(dir.toUri), conf)

  test("put-if-absent onto an existing file throws and keeps its bytes") {
    val dir = Files.createTempDirectory("graft_cfm_put")
    val m = manager(dir)
    assert(m.impl.getClass.getSimpleName === "Local")
    val p = new HPath(dir.resolve("0").toUri)
    write(m, p, "first", overwrite = false)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(m, p) === "first")
    assert(names(dir) === Set("0"), "a temp file or .crc was left behind")
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = Files.createTempDirectory("graft_cfm_cancel")
    val m = manager(dir)
    val out = m.createAtomic(new HPath(dir.resolve("1.delta").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("overwrite replaces the file and deletes its stale .crc; list hides .crc") {
    val dir = Files.createTempDirectory("graft_cfm_over")
    val m = manager(dir)
    Files.writeString(dir.resolve("2.delta"), "old")
    Files.writeString(dir.resolve(".2.delta.crc"), "stale checksum")
    assert(m.list(new HPath(dir.toUri)).map(_.getPath.getName).toSet ===
      Set("2.delta"))
    val p = new HPath(dir.resolve("2.delta").toUri)
    write(m, p, "new", overwrite = true)
    assert(read(m, p) === "new")
    assert(names(dir) === Set("2.delta"))
    Files.writeString(dir.resolve(".2.delta.crc"), "stale checksum")
    m.delete(p)
    assert(names(dir).isEmpty, "delete left the .crc sibling")
    assert(!m.exists(p))
  }

  test("a non-file: path gets what CheckpointFileManager.create builds") {
    val c = new Configuration(conf)
    c.set("fs.mock.impl", classOf[RawLocalFileSystem].getName)
    c.set("fs.mock.impl.disable.cache", "true")
    c.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    val p = new HPath("mock:/graft/ckpt")
    val m = new LocalCheckpointFileManager(p, c)
    c.unset(LocalCheckpointFileManager.ConfKey)
    assert(m.impl.getClass === CheckpointFileManager.create(p, c).getClass)
    assert(!m.impl.getClass.getName.startsWith("graft."))
  }

  test("fork-free setPermission sets the bits Hadoop's chmod sets") {
    val dir = Files.createTempDirectory("graft_cfm_mode")
    val forkFree = new ForkFreeRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(forkFree, stock).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    Seq(0x1a4 /* 644 */, 0x180 /* 600 */, 0x1ed /* 755 */, 0x1c0 /* 700 */,
        0x1a0 /* 640 */, 0, 0x1ff /* 777 */, 0x111 /* 421 */, 0x5d /* 135 */)
      .foreach { mode =>
        val perm = new FsPermission(mode.toShort)
        val (a, b) = (dir.resolve(s"a$mode"), dir.resolve(s"b$mode"))
        Files.createFile(a); Files.createFile(b)
        forkFree.setPermission(new HPath(a.toUri), perm)
        stock.setPermission(new HPath(b.toUri), perm)
        assert(Files.getPosixFilePermissions(a) === Files.getPosixFilePermissions(b),
          f"mode $mode%o")
      }
  }

  test("a compat stream into Delta started under Spark's default manager resumes under this one") {
    import spark.implicits._
    val key = LocalCheckpointFileManager.ConfKey
    val saved = Option(spark.conf.get(key, null))
    val chunkRows = 1000
    val staging = Files.createTempDirectory("graft_cfm_stage").toString
    LoadGen.generate(spark, staging, 3L * chunkRows, intervalMs = 10L, files = 1)
    val lines = {
      val part = names(Paths.get(staging))
        .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq.sorted.head
      Files.readAllLines(Paths.get(staging, part), UTF_8).asScala.toVector
    }
    def appendChunk(corpus: Path, i: Int): Unit =
      Files.write(corpus.resolve(f"part-$i%03d.txt"),
        lines.slice(i * chunkRows, (i + 1) * chunkRows)
          .mkString("", "\n", "\n").getBytes(UTF_8))
    def run(corpus: Path, root: String, ckpt: String): Unit = {
      // half a chunk per micro-batch: both runs cut batches at the same rows
      val raw = StreamSource.raw(spark, "graft-replay", Map(
        "path" -> corpus.toString, "rowsPerBatch" -> (chunkRows / 2).toString,
        "numPartitions" -> "2"))
      val q = StreamingCompat.windowsConfigured(spark,
          StreamSource.compatPoints(spark, raw)).toDF()
        .writeStream.foreachBatch(DeltaWrite.appendSink(root, "cfm"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L)).start()
      try q.processAllAvailable() finally q.stop()
    }
    def table(): String = {
      val root = Files.createTempDirectory("graft_cfm_delta").toString
      DeltaWrite.create(spark, spark.emptyDataset[CompatRow].toDF(), root)
      root
    }
    def rows(root: String): Seq[String] =
      DeltaRead.read(spark, root)
        .select(concat_ws("|", col("key"), col("tsUs"),
          concat_ws(",", col("avgValues")))).as[String].collect().toSeq.sorted

    try {
      val corpus = Files.createTempDirectory("graft_cfm_corpus")
      val root = table()
      val ckpt = Files.createTempDirectory("graft_cfm_ckpt")
      appendChunk(corpus, 0)
      val default = classOf[FileContextBasedCheckpointFileManager].getName
      spark.conf.set(key, default)
      run(corpus, root, ckpt.toString)
      assert(spark.conf.get(key) === default, "raw replaced a value the user set")
      assert(Files.exists(ckpt.resolve("commits/.1.crc")),
        "the first half did not run under Spark's default manager")

      spark.conf.unset(key)
      (1 to 2).foreach(appendChunk(corpus, _))
      run(corpus, root, ckpt.toString)
      assert(spark.conf.get(key) === classOf[LocalCheckpointFileManager].getName)
      assert(Files.exists(ckpt.resolve("commits/5")) &&
        !Files.exists(ckpt.resolve("commits/.5.crc")),
        "the second half did not run under the engine manager")

      val whole = Files.createTempDirectory("graft_cfm_whole")
      (0 to 2).foreach(appendChunk(whole, _))
      val wholeRoot = table()
      run(whole, wholeRoot, Files.createTempDirectory("graft_cfm_ckpt2").toString)
      val want = rows(wholeRoot)
      assert(want.nonEmpty, "the uninterrupted run wrote no windows")
      assert(rows(root) === want)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

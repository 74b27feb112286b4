package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrameWriter, Row}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]]'s staging and replace rules on plain files (no Spark):
  * the staging directory goes on every exit, only regular `*.parquet`
  * files are handed over, and a replace leaves one file behind. */
class LocalFsSpec extends AnyFunSuite {

  /** A writer whose `parquet(path)` lays out `files` (relative path →
    * body) and the directories `dirs` under `path`, and keeps the
    * options it was given. */
  private class PlainWriter(files: Map[String, String],
                            dirs: Seq[String] = Nil)
      extends DataFrameWriter[Row] {
    def seenOptions: Map[String, String] = extraOptions.originalMap
    override def save(path: String): Unit = {
      val root = Path.of(path)
      Files.createDirectories(root)
      dirs.foreach(d => Files.createDirectories(root.resolve(d)))
      files.foreach { case (rel, body) =>
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, body)
      }
    }
    override def save(): Unit = throw new UnsupportedOperationException
    override def insertInto(tableName: String): Unit =
      throw new UnsupportedOperationException
    override def saveAsTable(tableName: String): Unit =
      throw new UnsupportedOperationException
  }

  private def names(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  test("the staging directory is gone after the consumer returns or throws") {
    val dir = Files.createTempDirectory("graft_localfs_stage")
    val writer = new PlainWriter(Map("part-0.parquet" -> "a"))
    val moved = LocalFs.staged(dir.resolve(".stage-ok"), writer) { parts =>
      val dst = dir.resolve("data.parquet")
      Files.move(parts.head, dst)
      dst
    }
    assert(Files.readString(moved) === "a")
    assert(writer.seenOptions("fs.file.impl") ===
      classOf[ForkFreeLocalFileSystem].getName)
    intercept[IllegalStateException](
      LocalFs.staged(dir.resolve(".stage-fail"), writer) { _ =>
        throw new IllegalStateException("consumer refused")
      })
    assert(names(dir) === Set("data.parquet"))
  }

  test("a failing job leaves no staging directory") {
    val dir = Files.createTempDirectory("graft_localfs_job")
    val failing = new PlainWriter(Map("part-0.parquet" -> "a")) {
      override def save(path: String): Unit = {
        super.save(path)
        throw new IllegalStateException("job failed")
      }
    }
    intercept[IllegalStateException](
      LocalFs.staged(dir.resolve(".stage"), failing)(_ => fail("job failed")))
    assert(names(dir).isEmpty)
  }

  test("only regular *.parquet files are handed over") {
    val dir = Files.createTempDirectory("graft_localfs_parts")
    val stg = dir.resolve(".stage")
    val writer = new PlainWriter(
      Map("part-0.parquet" -> "a", ".part-0.parquet.crc" -> "c",
        "_SUCCESS" -> "", "k=v/part-1.parquet" -> "b",
        "x.parquet/readme.txt" -> "d"),
      dirs = Seq("empty.parquet"))
    val handed = LocalFs.staged(stg, writer)(_.map(stg.relativize(_).toString).toSet)
    assert(handed === Set("part-0.parquet", "k=v/part-1.parquet"))
  }

  test("replaceAtomically overwrites the file and leaves no temp sibling") {
    val dir = Files.createTempDirectory("graft_localfs_replace")
    val dst = dir.resolve("version-hint.text")
    LocalFs.replaceAtomically(dst, "1")
    LocalFs.replaceAtomically(dst, "2")
    assert(Files.readString(dst) === "2")
    assert(names(dir) === Set("version-hint.text"))
  }
}

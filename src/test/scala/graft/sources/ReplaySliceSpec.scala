package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, StringReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** `graft-replay`'s readers seek to a byte offset and split bytes on
  * line terminators; what they deliver must be what `Files.lines`
  * gives for the same corpus: the same lines with the same global
  * `seq`. The corpus mixes LF, CR and CRLF terminators, empty lines,
  * an unterminated last line, non-ASCII text and U+2028/U+0085
  * (which `Files.lines` does not split on). Slices start at a stride
  * boundary ±1, span two files, and split into several partitions;
  * one line is longer than a read buffer. Driven through the DSv2
  * interfaces directly; no Spark job runs. The splitter itself is
  * also checked against `BufferedReader.readLine` with read buffers
  * of a few bytes, so terminators fall on every buffer edge. */
class ReplaySliceSpec extends AnyFunSuite {

  private val Stride = ReplaySource.Stride

  private def writeCorpus(dir: Path, rnd: scala.util.Random): Unit = {
    val texts = Vector("""{"Timestamp":"2026-01-01T00:00:00Z","Values":["1","2"]}""",
      "", "plain", "é日本😀", "a b", "c\u0085d", "  ", "\t")
    def file(name: String, lines: Int, tail: String): Unit = {
      val b = new StringBuilder
      (0 until lines).foreach { i =>
        // one line longer than a read buffer
        b ++= (if (i == lines / 2) "y" * 150000 else texts(rnd.nextInt(texts.size))) + i
        if (i < lines - 1 || tail.nonEmpty) b ++= (if (i == lines - 1) tail
          else Vector("\n", "\r", "\r\n", "\n\n", "\r\r\n")(rnd.nextInt(5)))
      }
      Files.write(dir.resolve(name), b.result().getBytes(UTF_8))
    }
    file("a.txt", 2 * Stride + 300, "") // unterminated last line
    file("b.txt", Stride + 500, "\r")
    file("c.txt", 40, "\r\n")
    Files.write(dir.resolve("_ignored"), "x\n".getBytes(UTF_8))
  }

  private def linesOf(p: Path): Vector[String] = {
    val s = Files.lines(p, UTF_8)
    try s.iterator.asScala.toVector finally s.close()
  }

  private def stream(dir: Path, parts: Int): MicroBatchStream =
    new ReplaySource().getTable(ReplaySource.schema, Array.empty, new java.util.HashMap())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new CaseInsensitiveStringMap(Map(
        "path" -> dir.toString, "numPartitions" -> parts.toString).asJava))
      .build().toMicroBatchStream(dir.resolve("_ckpt").toString)

  private def read(s: MicroBatchStream, lo: Long, hi: Long): Vector[(String, Long)] = {
    val f = s.createReaderFactory()
    s.planInputPartitions(s.deserializeOffset(lo.toString), s.deserializeOffset(hi.toString))
      .toVector.flatMap { p =>
        val r = f.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map { r =>
          val row: InternalRow = r.get()
          (row.getUTF8String(0).toString, row.getLong(1))
        }.toVector
        finally r.close()
      }
  }

  test("LineBytes splits bytes where BufferedReader.readLine splits text") {
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("a", "é", "😀", "\n", "\r", "\r\n", "\u2028", " ")
    (1 to 300).foreach { n =>
      val text = (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
      val bytes = text.getBytes(UTF_8)
      val want = new BufferedReader(new StringReader(text)).lines().iterator.asScala.toVector
      Seq(1, 2, 3, 7, 1 << 16).foreach { size =>
        val keep = n % 2 == 0 || size > 3
        val r = new LineBytes(new ByteArrayInputStream(bytes), size)
        val got = Iterator.continually(r).takeWhile(_.next(keep))
          .map(r => (r.start, if (keep) new String(r.line, UTF_8) else null)).toVector
        assert(got.size == want.size, s"'$text' with a $size-byte buffer")
        // each line starts where its text starts when decoding from there
        got.zip(want).foreach { case ((start, line), w) =>
          val from = new String(bytes.drop(start.toInt), UTF_8)
          assert(from.startsWith(w) && (line == null || line == w), s"'$text' at $start")
        }
      }
    }
  }

  test("replay slices read by byte offset equal Files.lines, seq included") {
    val dir = Files.createTempDirectory("graft_replay_slices")
    writeCorpus(dir, new scala.util.Random(7))
    val expected = Seq("a.txt", "b.txt", "c.txt").flatMap(n => linesOf(dir.resolve(n)))
      .zipWithIndex.map { case (l, i) => (l, i.toLong) }.toVector
    val index = ReplaySource.index(dir.toString)
    assert(index.map(f => Paths.get(f.path).getFileName.toString) == Seq("a.txt", "b.txt", "c.txt"))
    assert(index.map(_.lines) == Seq("a.txt", "b.txt", "c.txt").map(n =>
      linesOf(dir.resolve(n)).size.toLong))
    val aLines = index.head.lines
    val total = expected.size.toLong
    val slices = Seq(
      (0L, total, 1), (0L, total, 8),
      (Stride - 1L, Stride + 700L, 1), (Stride.toLong, Stride + 700L, 1),
      (Stride + 1L, Stride + 700L, 1), (2L * Stride - 1, 2L * Stride + 2, 3),
      (aLines - 5, aLines + Stride + 3, 1), (aLines - 300, aLines + 300, 4),
      (aLines, aLines + 1, 1), (total - 3, total, 2), (5L, 6L, 1))
    slices.foreach { case (lo, hi, parts) =>
      val got = read(stream(dir, parts), lo, hi)
      assert(got == expected.slice(lo.toInt, hi.toInt), s"slice [$lo, $hi) in $parts parts")
    }
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Load-generator analog of the reference's `Streamer.CLI` workflow
  * (`dotnet run stream --num 5000 --interval 10`, README.md:65-75):
  * writes `num` canonical JSON event blobs — the same envelope the
  * rate source synthesizes — as text files under `outDir`, event
  * times spaced `intervalMs` apart from a fixed epoch. A demo then
  * points the file stream at it:
  *
  *   StreamSource.raw(spark, "text", Map("path" -> outDir))
  *     → compatPoints → StreamingCompat.windows
  *
  * Deterministic by construction (fixed base epoch, counter-derived
  * fields): two runs with the same arguments produce byte-identical
  * corpora, so demos and tests are reproducible. */
object LoadGen {

  /** 2026-01-01T00:00:00Z — fixed so generated corpora are stable. */
  private val BaseEpochMs = 1767225600000L

  def generate(spark: SparkSession, outDir: String, num: Long,
               intervalMs: Long = 10L, files: Int = 4): Unit =
    spark.range(num)
      .select(StreamSource.envelopeJson(
        timestamp_millis(lit(BaseEpochMs) + col("id") * lit(intervalMs)),
        col("id")).as("value"))
      .repartition(files)
      .write.mode("overwrite").text(outDir)

  /** args: outDir [num=5000] [intervalMs=10] [files=4] */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      sys.error("usage: LoadGen <outDir> [num] [intervalMs] [files]"))
    val num = args.lift(1).map(_.toLong).getOrElse(5000L)
    val intervalMs = args.lift(2).map(_.toLong).getOrElse(10L)
    val files = args.lift(3).map(_.toInt).getOrElse(4)
    // 200 is Spark's default; `generate` repartitions to `files` itself
    val spark = graft.Session.start(
      sys.env.getOrElse("SPARK_MASTER", "local[4]"), 200)
    try generate(spark, outDir, num, intervalMs, files)
    finally spark.stop()
  }
}

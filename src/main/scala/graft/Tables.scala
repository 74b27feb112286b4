package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table access + cross-engine determinism helpers.
  *
  * Every query result is hash-compared against a DuckDB oracle over the
  * same parquet (driver gate, see BASELINE.md). The helpers here encode
  * the determinism discipline from SURVEY.md §2.C / §7.4:
  *
  *  - timestamps never leave a query raw: project `epoch micros`
  *    (bigint) — parquet ns (DuckDB) vs µs (Spark) would hash-differ;
  *  - double aggregates that SUM many rows go through decimal so the
  *    result is order-independent, then cast back to double;
  *  - remaining doubles are rounded to 6 decimals (`r6`);
  *  - every query ends in a total ORDER BY.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events" &&
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark 4 refuses to
      // read as a timestamp; read it as a raw nanos long instead (also
      // removes any ns→µs truncation ambiguity vs the DuckDB oracle).
      // Set once here for sessions that didn't set it at build time.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The pin: materialize an intermediate once, so every plan that
    * references it reads the stored rows instead of re-deriving them
    * (Spark has no common-subplan elimination). Reliable `checkpoint`
    * when the context has a checkpoint dir, else `localCheckpoint`,
    * whose blocks Spark stores MEMORY_AND_DISK. Both are eager. The
    * README's "Pins" section states the rule. */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(true)

  /** events with event-time as epoch microseconds (`ts_us: long`).
    *
    * Adaptive to the driver testdata's physical `ts` type, which has
    * shipped both ways across rounds: parquet TIMESTAMP(NANOS) (read as
    * a raw nanos long under `nanosAsLong`, µs-precision data so the
    * ns→µs division is lossless) and parquet TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ; under the
    * project-wide UTC session timezone the NTZ→TIMESTAMP cast is the
    * wall-clock identity, and `unix_micros` is then the exact integer).
    * Both normalize to the same `ts_us: long`, matching the DuckDB
    * oracle's `epoch_us(ts)`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    raw.withColumn("ts_us", tsUs).drop("ts")
  }

  /** Register all tables as temp views (for spark.sql queries);
    * events gets the ts_us treatment. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** file path -> parquet row-group count (one footer read, memoized).
    * Detection must look at ROW GROUPS, not planned scan partitions:
    * Spark splits a small single-row-group file into byte-range
    * partitions (ceil(size / maxSplitBytes)) of which all but the one
    * holding the row group's midpoint are EMPTY — `rdd
    * .getNumPartitions` reports 3 "splits" for the driver's 10.8 MB
    * one-row-group lineitem while every row still lands on one core
    * (measured: the getNumPartitions form silently disabled every
    * spread and regressed q_cm_join_estimate 1.2 → 3.3 s). */
  private val rowGroupMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def rowGroups(spark: SparkSession, file: String): Int =
    Option(rowGroupMemo.get(file)).map(_.intValue).getOrElse {
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file),
          spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try r.getFooter.getBlocks.size finally r.close()
        rowGroupMemo.put(file, n)
        n
      } catch {
        // unknown: don't spread; not memoized, so the next call retries
        case NonFatal(_) => Int.MaxValue
      }
    }

  /** Spread a single-split scan across the cluster before CPU-heavy
    * per-row work (sha/hex projections). The driver testdata ships
    * documents/embeddings as ONE parquet split, which would serialize
    * those stages on one core. On real multi-split data the shuffle is
    * pure waste — so by default the spread is SELF-GATING (VERDICT r15
    * item 8): it fires only when the frame reads one parquet file
    * whose footer holds one row group (`rowGroups` — a footer read,
    * no job runs). A deployment that forgets the env var can
    * no longer pay a full fact-table repartition on multi-split data.
    * `SPARK_GRAFT_SINGLE_SPLIT=0` forces it off, `=1` forces it on
    * (both kept for explicit A/B runs). */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val on = sys.env.get("SPARK_GRAFT_SINGLE_SPLIT") match {
      case Some("0") => false
      case Some(_)   => true
      case None =>
        // self-gating: ONE input file whose footer holds ONE row group
        // is the only layout where a scan stage cannot parallelize.
        // Multi-file frames skip the footer read entirely.
        val files = df.inputFiles
        files.length == 1 && rowGroups(spark, files(0)) == 1
    }
    if (on) df.repartition(spark.sparkContext.defaultParallelism) else df
  }
}

object Det {
  /** Round a double to 6 decimals — cross-engine stable (no double is
    * exactly on a 6-decimal half boundary; 5e-7 is not dyadic). */
  def r6(c: Column): Column = round(c, 6)

  /** Event-time as epoch microseconds (bigint), for ms-precision
    * timestamp columns (lineitem/orders). DuckDB side: epoch_us(col).
    * NTZ-safe via explicit cast (session TZ is UTC). */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Aligned 1-second tumbling window start (epoch seconds) from an
    * epoch-micros long. Values ≤ 2^53 so the double division is exact
    * up to floor, and floor(c/1e6) == c div 1e6 for positive epochs. */
  def usToSec(c: Column): Column = floor(c / 1000000L).cast("long")

  /** Order-independent exact sum of a double column: route through
    * decimal(18, scale) so partial-aggregation order can't change the
    * result, then back to double (correctly-rounded in both engines). */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")
}

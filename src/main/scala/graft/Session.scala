package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session setup, used by every entry point and by
  * the test base (README "Sessions"). */
object Session {

  /** `getOrCreate` a session on `master` with `shufflePartitions`
    * shuffle partitions and the settings every run shares:
    *  - UTC session time zone, so timestamp casts match the DuckDB
    *    oracles' wall-clock reading;
    *  - `nanosAsLong`, so a TIMESTAMP(NANOS) `events.ts` reads as a raw
    *    long (`Tables.events`);
    *  - no Spark UI;
    *  - WARN log level (Spark logs to stderr; stdout stays the
    *    entry points' own). */
  def start(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Env var `name` as a positive Int, `default` when it is unset.
    * Parsed at startup, before any session is built. */
  def envPositiveInt(name: String, default: Int): Int =
    sys.env.get(name).fold(default)(positiveInt(name, _))

  /** `raw` (surrounding blanks allowed) as a positive Int; anything
    * else throws an IllegalArgumentException that names `name`. */
  def positiveInt(name: String, raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$raw'"))
}

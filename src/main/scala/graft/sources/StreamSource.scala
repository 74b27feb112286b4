package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.streaming.DataDrivenWindow.CompatPoint
import graft.streaming.StreamingCompat

/** Configurable streaming-source wiring — the R1 ingest element
  * (the reference consumes JSON event blobs from an Event Hub trigger,
  * DispatcherFunction.cs:21-23; README.md:9-14 describes the canonical
  * format). The connector itself is deployment config, not code:
  * `raw(spark, format, options)` loads ANY Structured Streaming source
  * by name and normalizes it to the single raw-JSON surface
  * `(value string, seq long)` that the rest of the pipeline
  * (JsonEvents parse → StreamingCompat / StreamingWindows) consumes.
  *
  * Production option sets (standard Spark connector options — pass
  * them straight through):
  *
  *  - Kafka:  format = "kafka", options = Map(
  *      "kafka.bootstrap.servers" -> "broker:9092",
  *      "subscribe"               -> "events",
  *      "startingOffsets"         -> "latest")
  *  - Azure Event Hubs exposes a Kafka-compatible endpoint, so the
  *    SAME kafka format reaches the reference's actual source:
  *      "kafka.bootstrap.servers" -> "<namespace>.servicebus.windows.net:9093",
  *      "subscribe"               -> "<event hub name>",
  *      "kafka.security.protocol" -> "SASL_SSL",
  *      "kafka.sasl.mechanism"    -> "PLAIN",
  *      "kafka.sasl.jaas.config"  -> "... connection string ...")
  *  - Local/dev, no broker: format = "rate" (built-in) synthesizes the
  *    reference's JSON envelope at `rowsPerSecond` — the load-generator
  *    path (the reference's Streamer.CLI analog), also what the test
  *    suite drives.
  *
  * `seq` is the source's native monotone sequence where one exists
  * (kafka offset, rate counter) and a content hash otherwise — it only
  * breaks equal-timestamp ties downstream, so any deterministic value
  * works; what matters is that it is NOT partition-layout-dependent.
  *
  * `raw` also makes [[LocalCheckpointFileManager]] the session's
  * checkpoint file manager (`spark.sql.streaming.checkpointFileManagerClass`)
  * unless the session already names one; a value the user set wins. It
  * handles `file:` checkpoint locations without starting a process per
  * file and gives every other scheme Spark's default manager. The
  * setting stays on the session for later streams.
  */
object StreamSource {

  /** The reference's JSON event envelope from a (timestamp, counter)
    * pair: 8 synthetic sessions, Values = [measurement, playerId]
    * (Values[1] is the key-synthesis field, cs:179-181). Used by the
    * rate-source branch below and by LoadGen's file writer. */
  def envelopeJson(ts: org.apache.spark.sql.Column,
                   counter: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_json(struct(
      ts.as("Timestamp"),
      concat(lit("dev-"), pmod(counter, lit(3))).as("DeviceId"),
      concat(lit("sess-"), pmod(counter, lit(8))).as("SessionId"),
      lit("rate").as("SensorType"),
      array(lit("speed"), lit("player")).as("Names"),
      array(pmod(counter, lit(100)).cast(StringType),
        pmod(counter, lit(8)).cast(StringType)).as("Values")))

  /** Load `format` with `options` and normalize to
    * `(value string, seq long)`. */
  def raw(spark: SparkSession, format: String,
          options: Map[String, String] = Map.empty): DataFrame = {
    LocalCheckpointFileManager.install(spark)
    val src = spark.readStream.format(format).options(options).load()
    format match {
      case "kafka" =>
        // binary key/value; offset is monotone per partition
        src.select(col("value").cast(StringType).as("value"),
          col("offset").as("seq"))
      case "rate" | "rate-micro-batch" =>
        // built-in generator (timestamp, value) → the reference's JSON
        // envelope (8 synthetic sessions; shared with LoadGen)
        src.select(
          envelopeJson(col("timestamp"), col("value")).as("value"),
          col("value").as("seq"))
      case "graft-replay" =>
        // the in-repo DSv2 MicroBatchStream (ReplaySource) already
        // emits the normalized surface with a native monotone seq
        src
      case _ =>
        // text/socket/json-file/... : expect a string-able `value`
        // column; derive seq from content (stable across runs, unlike
        // monotonically_increasing_id's partition-layout dependence)
        src.select(col("value").cast(StringType).as("value"))
          .withColumn("seq", pmod(xxhash64(col("value")), lit(1000000007L)))
    }
  }

  /** Raw JSON surface → typed per-key points for the compat pipeline
    * (StreamingCompat.windows). Malformed blobs are dropped here; use
    * JsonEvents.parse on a batch capture for the dead-letter split. */
  def compatPoints(spark: SparkSession, raw: DataFrame): Dataset[CompatPoint] =
    StreamingCompat.points(JsonEvents.parsed(raw, col("seq"))
      .where(!JsonEvents.dead)
      .select(
        JsonEvents.key.as("key"),
        unix_micros(col("p.Timestamp")).as("tsUs"),
        col("seq"),
        col("p.DeviceId").as("deviceId"),
        col("p.SessionId").as("sessionId"),
        col("p.Names").as("names"),
        col("p.Values").as("values")))

  /** Raw JSON surface → the `(user_id long, ts timestamp, value
    * double)` post-parse projection StreamingWindows consumes.
    * user_id comes from the envelope's player field (Values[1]) when
    * numeric, else a stable hash of the synthesized key; value is the
    * measurement (Values[0]). */
  def events(spark: SparkSession, raw: DataFrame): DataFrame =
    JsonEvents.parsed(raw)
      .where(!JsonEvents.dead)
      .select(
        coalesce(element_at(col("p.Values"), 2).cast(LongType),
          pmod(xxhash64(JsonEvents.key), lit(1000000L))).as("user_id"),
        col("p.Timestamp").as("ts"),
        element_at(col("p.Values"), 1).cast(DoubleType).as("value"))
}

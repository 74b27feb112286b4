package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Bridge
import graft.functions.FromJsonUtf8
import graft.streaming.DataDrivenWindow.{CompatPoint, CompatRow}
import graft.streaming.StreamingCompat

/** The reference's ingest + egress surface, Spark-first:
  *
  *  - R1 source: the reference consumes UTF-8 JSON event blobs from an
  *    Event Hub ([EventHubTrigger], DispatcherFunction.cs:21-23). The
  *    connector is environment-specific; everything after the bytes —
  *    parse, dead-letter, key synthesis — is here, over any
  *    DataFrame[value: string] (spark.read.text, readStream from
  *    Kafka/socket, MemoryStream, ...).
  *  - R2 parse: JSON → canonical DataPoint envelope (DataPoint.cs:8-28).
  *  - R4 dead-letter: malformed records are split out (not dropped
  *    silently — the reference logs them, cs:184-190) via PERMISSIVE
  *    mode's corrupt-record column. `envelope` is the one parse of
  *    the ingest path; StreamSource's stream projections use it too.
  *  - R3 key synthesis: key = "{SessionId}:{Values[1]}" — the
  *    reference's "total hack" player-id assumption (cs:179-181),
  *    0-based Values[1] = element_at(..., 2).
  *  - R23 sink: the per-window output row serialized to the exact JSON
  *    shape of cs:152-161 (lowercase field names, always-empty
  *    sessionstart, allvalues as a string→string map).
  */
object JsonEvents {

  /** Canonical DataPoint envelope (DataPoint.cs:8-28) + corrupt-record
    * channel. JSON field names match the reference's serialization. */
  val schema: StructType = StructType(Seq(
    StructField("Timestamp", TimestampType),
    StructField("DeviceId", StringType),
    StructField("SessionId", StringType),
    StructField("SensorType", StringType),
    StructField("Names", ArrayType(StringType)),
    StructField("Values", ArrayType(StringType)),
    StructField("_corrupt_record", StringType)))

  /** The envelope of raw JSON `value`: the struct
    * `from_json(value, schema, PERMISSIVE)` gives, parsed by one
    * native expression from the record's UTF-8 bytes
    * ([[graft.functions.FromJsonUtf8]]). This is the one parse of the
    * ingest path; it needs no SQL parser. */
  def envelope(value: Column): Column =
    Bridge.column(FromJsonUtf8(Bridge.expression(value), schema))

  /** `raw`'s `keep` columns plus its envelope as `p`. */
  private[sources] def parsed(raw: DataFrame, keep: Column*): DataFrame =
    raw.select(keep :+ envelope(col("value")).as("p"): _*)

  /** A parsed event is dead when it is malformed or has no Timestamp
    * (SafelyConvertToDataPoint's null, cs:172-191). */
  private[sources] val dead: Column =
    col("p._corrupt_record").isNotNull || col("p.Timestamp").isNull

  /** R3: key = "{SessionId}:{Values[1]}" (cs:179-181). */
  private[sources] val key: Column =
    concat_ws(":", col("p.SessionId"), element_at(col("p.Values"), 2))

  private val event: Seq[Column] = Seq(
    col("p.Timestamp").as("timestamp"),
    col("p.DeviceId").as("deviceId"),
    col("p.SessionId").as("sessionId"),
    col("p.SensorType").as("sensorType"),
    col("p.Names").as("names"),
    col("p.Values").as("values"),
    key.as("key"),
    col("value").as("raw"))

  /** Parse raw JSON events (column `value: string`) into the typed
    * envelope + demux key; malformed records go to the second return
    * (dead letter), matching SafelyConvertToDataPoint's (null, log)
    * split (cs:172-191). An event without Values[1] gets a null-suffix
    * key from concat_ws — the reference would throw there; keep such
    * events in the clean side (they parsed) and let the caller decide,
    * mirroring the "total hack" fragility without crashing the scan. */
  def parse(raw: DataFrame): (DataFrame, DataFrame) = {
    val p = parsed(raw, col("value"))
    (p.where(!dead).select(event: _*), p.where(dead).select(col("value")))
  }

  /** `parse` with SINGLE-PASS ingest metrics attached via the observe
    * API: total/clean/dead counts materialize as a side effect of
    * whatever action the caller already runs — no second scan. (The
    * reference pays an extra `points.Count()` iteration per metric,
    * DispatcherFunction.cs:25,37,49; `observe` is the engine-native
    * replacement.) Read `obs.get` AFTER an action on the clean frame. */
  def parseObserved(raw: DataFrame): (DataFrame, DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("ingest")
    val p = parsed(raw, col("value"))
      .withColumn("is_dead", dead)
      .observe(obs,
        count(lit(1)).as("n_total"),
        count(when(!col("is_dead"), 1)).as("n_clean"),
        count(when(col("is_dead"), 1)).as("n_dead"))
    (p.where(!col("is_dead")).select(event: _*),
      p.where(col("is_dead")).select(col("value")), obs)
  }

  /** Clean parsed events → Dataset[CompatPoint] for the window
    * pipeline. seq is a stable intra-key order: row_number over
    * (timestamp, content-hash of the raw blob) per key — a pure
    * function of the data, identical across runs/retries/partition
    * layouts (monotonically_increasing_id is NOT: it bakes in the
    * partition layout, so equal-ts replay order would differ run to
    * run). Equal-(ts, blob) duplicates remain interchangeable — and
    * are literally identical rows, so any order among them yields the
    * same windows. The window shuffle is on key, which the compat
    * pipeline regroups by anyway. */
  def toCompatPoints(spark: SparkSession, clean: DataFrame): Dataset[CompatPoint] = {
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("tsUs"), sha2(col("raw"), 256))
    StreamingCompat.points(clean.select(
      col("key"),
      unix_micros(col("timestamp")).as("tsUs"),
      col("deviceId"), col("sessionId"), col("names"), col("values"),
      col("raw"))
      .withColumn("seq", row_number().over(seqW).cast(LongType)))
  }

  /** R23: window rows → the reference's output JSON (cs:152-161). */
  def toOutputJson(spark: SparkSession, rows: Dataset[CompatRow]): Dataset[String] = {
    import spark.implicits._
    rows.select(to_json(struct(
      timestamp_micros(col("tsUs")).as("ts"),
      col("deviceId").as("deviceid"),
      col("sessionId").as("sessionid"),
      col("sessionStart").as("sessionstart"),
      map_from_arrays(col("names"), col("avgValues")).as("allvalues"))).as("json"))
      .as[String]
  }
}

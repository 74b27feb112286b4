package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{DataDrivenWindow, StreamingCompat}
import graft.streaming.DataDrivenWindow.CompatPoint

/** Batch form of the reference's exact data-driven windowing
  * (R11–R14): `events` rows are lifted into the canonical DataPoint
  * envelope (names/values parallel string arrays, DataPoint.cs:25-28),
  * demuxed by grouping on the key column, and each key's
  * event-time-ordered sequence is replayed through
  * DataDrivenWindow.replay — the same function the Structured
  * Streaming wrapper uses, so batch and stream cannot diverge.
  *
  * Oracled since r8: the per-key batch recurrence (start-advance scan,
  * enqueue, at-most-one add-then-check drain per 100-event batch,
  * DispatcherFunction.cs:66-162) is replayed step-per-event in a
  * DuckDB `WITH RECURSIVE` CTE, the same unrolling precedent as the
  * q_recursive_reach / q_kcenter_select oracles. The reference's
  * decimal-string averages (cs:148) are NOT hash-comparable across
  * engines (Java MathContext.DECIMAL128 quotient strings), so the gate
  * projection emits `avg_ppm`: the average in integer micro-units,
  * HALF_EVEN. Rounding the 34-significant-digit DECIMAL128 quotient to
  * ppm equals rounding the exact rational sum/n: a window of n events
  * (n ≤ ~100 per 100-event batch) keeps the rational at least 1/(2n)
  * ppm away from any rounding boundary unless it terminates (≤ 7
  * decimal digits, exactly representable in 34), so the double
  * rounding can never flip a digit. The reference-faithful decimal
  * strings remain pinned by CompatWindowSpec / WindowPropertySpec.
  *
  * Scale note: this operator is sequential per key by definition (the
  * reference's semantics are a per-key FIFO replay) — parallelism
  * comes from the key shuffle, same as the reference's per-player
  * demux. The per-key sort-then-replay buffers one key's events in
  * executor memory, which matches the reference's own unbounded
  * per-player Redis queue (README.md:79); the aligned-window
  * EventOps forms are the scale path, this is the parity path.
  */
object CompatOps {

  def compatDatadrivenWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uid = col("user_id").cast("string")
    val pts = StreamingCompat.points(Tables.events(s, dir)
      .select(
        uid.as("key"), // reference key = "{SessionId}:{Values[1]}" (cs:180)
        col("ts_us").as("tsUs"), col("event_id").as("seq"),
        concat(lit("dev-"), uid).as("deviceId"), uid.as("sessionId"),
        array(lit("value"), lit("player"), lit("type")).as("names"),
        array(col("value").cast("string"), uid, col("event_type")).as("values")))
    pts.groupBy(col("key")).as[String, CompatPoint]
      .flatMapGroups { (_, it: Iterator[CompatPoint]) =>
        // reference sorts each batch by Timestamp before demux (cs:35);
        // replay in 100-event micro-batches — the reference's real
        // delivery granularity (100 Hz sensors, ~100-event hub batches,
        // README.md:48,72-75). Batching choice is semantic here: one
        // drain happens per batch (cs:99-104).
        val sorted = it.toVector.sortBy(p => (p.tsUs, p.seq))
        DataDrivenWindow.replay(
          DataDrivenWindow.emptyState, sorted.grouped(100))._2.iterator
      }
      .flatMap(r => r.names.zip(r.avgValues).map { case (n, v) =>
        (r.key, r.tsUs, r.deviceId, r.sessionId, n, toPpm(v))
      })
      .toDF("key", "win_ts_us", "deviceid", "sessionid", "name", "avg_ppm")
      .orderBy("key", "win_ts_us", "name")
  }

  /** Reference decimal-average string → integer micro-units, HALF_EVEN
    * (see class Scaladoc for why this equals rounding the exact
    * rational). */
  def toPpm(avg: String): Long =
    new JBigDecimal(avg).movePointRight(6)
      .setScale(0, RoundingMode.HALF_EVEN).longValueExact

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_compat_datadriven_window" -> compatDatadrivenWindow _)

  /** DuckDB replay of the per-key batch recurrence, one recursion step
    * per event. State per (key, rn): window start `start_us`
    * (init-on-first-event then advanced to the ts of each event ≥
    * start+1s, cs:74-94), the in-batch `push` flag, and the queue as
    * the index range [head, rn] over the (ts, event_id)-ordered
    * per-key sequence (drains pop from the head, appends extend the
    * tail, so the queue is always contiguous). At each 100-event batch
    * boundary (or the key's last event) with push set, one drain: `b`
    * = first queued event ≥ 1s after the queue head (add-then-check,
    * cs:130-137) → emit [head, b] and advance head past b, or
    * underflow (no such b in the queue, cs:121-127) → everything
    * popped and lost. Averages: `value` from exact integer cents,
    * `player` is the constant uid, `type` parses to 0 (cs:164-170);
    * half-even ppm via integer quotient/remainder. */
  val oracles: Map[String, String] = Map(
    "q_compat_datadriven_window" ->
      """WITH RECURSIVE
        |ev AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key, user_id AS uid,
        |         epoch_us(ts) AS ts_us, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_k,
        |         CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents
        |  FROM events),
        |st AS (
        |  SELECT key, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS start_us,
        |         FALSE AS push, CAST(1 AS BIGINT) AS head,
        |         CAST(NULL AS BIGINT) AS w_head, CAST(NULL AS BIGINT) AS w_b
        |  FROM (SELECT DISTINCT key FROM ev)
        |  UNION ALL
        |  SELECT key, rn, start2,
        |         CASE WHEN batch_end THEN FALSE ELSE push2 END,
        |         CASE WHEN batch_end AND push2 AND head <= rn
        |              THEN COALESCE(b + 1, rn + 1) ELSE head END,
        |         CASE WHEN batch_end AND push2 AND head <= rn
        |                   AND b IS NOT NULL THEN head END,
        |         CASE WHEN batch_end AND push2 AND head <= rn THEN b END
        |  FROM (
        |    SELECT s.key, e.rn, s.head,
        |           CASE WHEN e.ts_us - COALESCE(s.start_us, e.ts_us) >= 1000000
        |                THEN e.ts_us
        |                ELSE COALESCE(s.start_us, e.ts_us) END AS start2,
        |           (s.push OR
        |            e.ts_us - COALESCE(s.start_us, e.ts_us) >= 1000000) AS push2,
        |           (e.rn % 100 = 0 OR e.rn = e.n_k) AS batch_end,
        |           (SELECT MIN(x.rn) FROM ev x, ev h
        |             WHERE h.key = s.key AND h.rn = s.head
        |               AND x.key = s.key AND x.rn BETWEEN s.head AND e.rn
        |               AND x.ts_us - h.ts_us >= 1000000) AS b
        |    FROM st s JOIN ev e ON e.key = s.key AND e.rn = s.rn + 1)),
        |win AS (
        |  SELECT key, w_head AS h, w_b AS b FROM st WHERE w_head IS NOT NULL),
        |agg AS (
        |  SELECT w.key, hd.ts_us AS win_ts_us, hd.uid,
        |         SUM(x.cents) AS sc, COUNT(*) AS m
        |  FROM win w
        |  JOIN ev hd ON hd.key = w.key AND hd.rn = w.h
        |  JOIN ev x ON x.key = w.key AND x.rn BETWEEN w.h AND w.b
        |  GROUP BY 1, 2, 3),
        |ppm AS (
        |  SELECT key, win_ts_us, uid, m,
        |         (sc * 10000) // m AS q, (sc * 10000) % m AS r
        |  FROM agg)
        |SELECT key, win_ts_us, 'dev-' || key AS deviceid, key AS sessionid,
        |       nm.name,
        |       CAST(CASE nm.name
        |         WHEN 'value' THEN q + (CASE WHEN 2 * r > m THEN 1
        |                                     WHEN 2 * r < m THEN 0
        |                                     ELSE q % 2 END)
        |         WHEN 'player' THEN uid * 1000000
        |         ELSE 0 END AS BIGINT) AS avg_ppm
        |FROM ppm CROSS JOIN (VALUES ('value'), ('player'), ('type')) AS nm(name)
        |ORDER BY key, win_ts_us, nm.name""".stripMargin)
}

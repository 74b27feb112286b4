package graft.streaming

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.streaming.DataDrivenWindow._

/** Structured Streaming form of the reference pipeline: Event Hub →
  * demux → per-player data-driven 1 s window → averaged row
  * (DispatcherFunction.cs Run/ProcessPlayerAsync/PushTimeAsync), as
  * `readStream → groupBy(key) → flatMapGroupsWithState → writeStream`.
  *
  * The per-key micro-batch handler is DataDrivenWindow.processBatch —
  * the SAME code the batch operator replays; the state carries the
  * window start + pending queue across micro-batches exactly as the
  * reference's Redis keys do (cs:70-71). WindowPropertySpec's
  * split-equivalence property proves replay(whole) ==
  * replay(chunk1) ⊕ replay(chunk2), i.e. output is independent of
  * micro-batch boundaries.
  *
  * State encoding: GroupState holds a [[PackedState]], not the
  * KeyState itself. The queue (~100 events per key at 100 Hz) crosses
  * the state store as columns: `tsUs`/`seq` as long arrays, all values
  * in one string array with a per-event count, and each distinct
  * (deviceId, sessionId, names) once in a per-key dictionary; the key
  * is the grouping key. A handler call unpacks to KeyState, runs
  * processBatch, and packs the result, so DataDrivenWindow stays the
  * one code path. The packed row is about a third the size of one
  * CompatPoint struct per event. A checkpoint written by the
  * struct-per-event encoding cannot be resumed: Spark's state-schema
  * check refuses the old schema at start-up.
  *
  * Fidelity choice: NoTimeout — the reference never expires its queue
  * (README.md:79, a documented defect). A production deployment would
  * set an event-time timeout to evict idle keys; that changes emitted
  * results (final partial windows still never emit, but state stops
  * growing), so the default compat wrapper keeps the defect.
  *
  * TTL variant (`windowsTtl` / conf `spark.graft.compat.ttl`, r8):
  * mirrors the reference's ACTUAL expiry semantics, which are narrower
  * than "1-day state TTL": only the START key carries the
  * TimeSpan.FromDays(1) TTL, and only when first initialized
  * (DispatcherFunction.cs:78); every boundary advance rewrites it with
  * `StringSetAsync(key, value)` and NO expiry (cs:90), which in Redis
  * PERSISTS the key — clears the TTL for good. The queue key never
  * has a TTL. So: a key that ever advanced its start never expires; a
  * key that never crossed a boundary loses its start 1 day after
  * first sight, and on its next event the start re-initializes (with
  * a fresh TTL) while the STALE QUEUE is still there — a later drain
  * then spans the idle gap from the old queue head. The variant
  * reproduces exactly that (timeout drops the start, keeps the
  * queue), using event-time as the replayable proxy for the
  * reference's Redis wall clock. StreamingCompatTtlSpec pins the
  * emitted-row delta vs NoTimeout.
  */
object StreamingCompat {

  /** TTL seconds for the never-advanced start key; unset/empty = the
    * reference-defect NoTimeout path. */
  val TtlConf = "spark.graft.compat.ttl"

  /** A key's [[KeyState]] as one compact row, the form GroupState
    * stores (see class Scaladoc). Per queued event: `tsUs`, `seq`,
    * `meta` (index into the per-key dictionary) and `nValues` (its
    * value count, -1 for a null array); `values` holds every event's
    * values back to back. The dictionary holds each distinct
    * (deviceId, sessionId, names) once: `devices(j)`, `sessions(j)`
    * and `nNames(j)` names (-1 for null) taken in order from `names`.
    * The key is not stored: it is the grouping key. */
  case class PackedState(
      startUs: Option[Long],
      tsUs: Array[Long], seq: Array[Long],
      meta: Array[Int], nValues: Array[Int], values: Array[String],
      devices: Array[String], sessions: Array[String],
      nNames: Array[Int], names: Array[String])

  /** NoTimeout state + the start key's expiry deadline (event-time
    * µs): Some at init, cleared forever by the first advance (the
    * reference's persist-on-set), None while no start exists. */
  case class TtlState(inner: PackedState, deadlineUs: Option[Long])

  /** The [[PackedState]] row for `st`; its events carry the grouping key. */
  def pack(st: KeyState): PackedState = {
    val n = st.queue.length
    val (tsUs, seq) = (new Array[Long](n), new Array[Long](n))
    val (meta, nValues) = (new Array[Int](n), new Array[Int](n))
    val values = Array.newBuilder[String]
    val dict = mutable.LinkedHashMap.empty[(String, String, Seq[String]), Int]
    st.queue.iterator.zipWithIndex.foreach { case (p, i) =>
      tsUs(i) = p.tsUs
      seq(i) = p.seq
      meta(i) = dict.getOrElseUpdate((p.deviceId, p.sessionId, p.names), dict.size)
      nValues(i) = lengthOrNull(p.values)
      if (p.values != null) values ++= p.values
    }
    val entries = dict.keys.toArray
    PackedState(st.startUs, tsUs, seq, meta, nValues, values.result(),
      entries.map(_._1), entries.map(_._2), entries.map(e => lengthOrNull(e._3)),
      entries.flatMap(e => Option(e._3).getOrElse(Nil)))
  }

  /** Inverse of [[pack]]; `key` is the grouping key. */
  def unpack(key: String, ps: PackedState): KeyState = {
    val names = runs(ps.names, ps.nNames)
    val values = runs(ps.values, ps.nValues)
    KeyState(ps.startUs, Vector.tabulate(ps.tsUs.length) { i =>
      val m = ps.meta(i)
      CompatPoint(key, ps.tsUs(i), ps.seq(i), ps.devices(m), ps.sessions(m),
        names(m), values(i))
    })
  }

  /** Splits `flat` into consecutive runs of `counts` (-1 = null). */
  private def runs(flat: Array[String], counts: Array[Int]): Array[Seq[String]] = {
    var off = 0
    counts.map { c =>
      if (c < 0) null
      else {
        off += c
        ArraySeq.unsafeWrapArray(flat.slice(off - c, off))
      }
    }
  }

  private def lengthOrNull(xs: Seq[String]): Int = if (xs == null) -1 else xs.length

  /** Columns named like CompatPoint's fields → Dataset[CompatPoint],
    * decoded straight from the columns; null names/values arrays
    * become empty. Extra columns are dropped. */
  def points(df: DataFrame): Dataset[CompatPoint] = {
    import df.sparkSession.implicits._
    val noStrings = array().cast(ArrayType(StringType))
    df.select(col("key"), col("tsUs"), col("seq"), col("deviceId"), col("sessionId"),
      coalesce(col("names"), noStrings).as("names"),
      coalesce(col("values"), noStrings).as("values"))
      .as[CompatPoint]
  }

  /** Conf-dispatched entry: `spark.graft.compat.ttl` = TTL in seconds
    * enables the expiry-faithful variant, unset keeps the
    * reference-defect NoTimeout replay. */
  def windowsConfigured(spark: SparkSession, points: Dataset[CompatPoint]): Dataset[CompatRow] =
    spark.conf.getOption(TtlConf).map(_.trim).filter(_.nonEmpty) match {
      case Some(secs) => windowsTtl(spark, points, secs.toLong * 1000000L)
      case None => windows(spark, points)
    }

  /** EventTimeTimeout form of `windows` (see class Scaladoc): on
    * timeout the key's start is dropped and its queue KEPT, exactly
    * the reference's expired-start/immortal-queue state.
    *
    * One structural deviation EventTimeTimeout forces: it requires a
    * watermark, and Spark drops rows at-or-before the watermark
    * BEFORE the operator (the reference, with no watermark concept,
    * would enqueue them). With the default 0-second delay an in-order
    * stream only ever loses an event whose timestamp exactly equals
    * the previous batch's max; raise `delay` if the source can be
    * out-of-order across micro-batches. */
  def windowsTtl(spark: SparkSession, points: Dataset[CompatPoint],
                 ttlUs: Long, delay: String = "0 seconds"): Dataset[CompatRow] = {
    import spark.implicits._
    points
      .withColumn("evt_time", timestamp_micros(col("tsUs")))
      .withWatermark("evt_time", delay)
      .groupBy(col("key")).as[String, CompatPoint]
      .flatMapGroupsWithState[TtlState, CompatRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[CompatPoint], state: GroupState[TtlState]) =>
          val prev = state.getOption.getOrElse(TtlState(pack(emptyState), None))
          if (state.hasTimedOut) {
            // cs:78 expiry: only the start key dies; the queue stays
            state.update(TtlState(prev.inner.copy(startUs = None), None))
            Iterator.empty
          } else {
            val sorted = it.toVector.sortBy(p => (p.tsUs, p.seq))
            val (next, row) = processBatch(unpack(key, prev.inner), sorted)
            val deadline =
              if (sorted.isEmpty) prev.deadlineUs
              else prev.inner.startUs match {
                // init-on-first-event sets the 1-day TTL (cs:78);
                // any advance within the same batch persists the key
                case None if next.startUs.contains(sorted.head.tsUs) =>
                  Some(sorted.head.tsUs + ttlUs)
                case Some(s) if next.startUs.contains(s) => prev.deadlineUs
                case _ => None // advanced → TTL cleared for good (cs:90)
              }
            state.update(TtlState(pack(next), deadline))
            // re-arm each invocation (Spark clears it per call); clamp
            // above the watermark so a deadline the watermark already
            // passed fires on the next batch instead of throwing
            deadline.foreach(d => state.setTimeoutTimestamp(
              math.max(d / 1000, state.getCurrentWatermarkMs + 1)))
            row.iterator
          }
      }
  }

  /** Attach the compat window computation to any (streaming or batch)
    * Dataset[CompatPoint]. One micro-batch = one reference batch (the
    * Functions trigger model maps 1:1): each key's slice is sorted
    * (cs:35) and run through ONE processBatch — so at most one window
    * closes per key per micro-batch, exactly like the reference. */
  def windows(spark: SparkSession, points: Dataset[CompatPoint]): Dataset[CompatRow] = {
    import spark.implicits._
    points
      .groupBy(col("key")).as[String, CompatPoint]
      .flatMapGroupsWithState[PackedState, CompatRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[CompatPoint], state: GroupState[PackedState]) =>
          val prev = state.getOption.fold(emptyState)(unpack(key, _))
          val sorted = it.toVector.sortBy(p => (p.tsUs, p.seq))
          val (next, row) = processBatch(prev, sorted)
          state.update(pack(next))
          row.iterator
      }
  }
}

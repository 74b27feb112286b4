package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}
import graft.Det._
import graft.functions.PortableHashes

/** Group 1 — the reference's streaming semantics in batch-replay form,
  * over the driver's `events` table.
  *
  * Reference behaviors generalized here (SURVEY.md §2.A; citations into
  * /root/reference/src/DispatcherFunction/DispatcherFunction.cs):
  *  - demux by key + 1-second event-time window + per-field average
  *    (GroupBy :39, boundary check :87, avg :148);
  *  - first-event metadata carried onto the output row (:141,:154-156);
  *  - string→decimal parse with 0 default (:164-170);
  *  - error-tolerant parse / dead-letter counting (:184-190, :33);
  *  - arrays→map pivot of the output record (:144-150);
  *  - event-time batch sort (:35).
  *
  * All are pure DataFrame plans: scan → (optional shuffle on the group
  * key) → partial+final agg — at 100 TB the only data movement is the
  * one hash shuffle on (user_id, window), which is the minimum demux
  * cost; filters/projections push into the parquet scan.
  */
object EventOps {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** R9+R12+R20: per-key 1s tumbling window average (aligned form). */
  def demuxWindowAvg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), usToSec(col("ts_us")).as("win_start_s"))
      .agg(r6(avg(col("value"))).as("avg_value"))
      .orderBy("user_id", "win_start_s")

  /** R20 generalized: avg+min+max+count+sum per key/window. */
  def demuxWindowAggMulti(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), usToSec(col("ts_us")).as("win_start_s"))
      .agg(
        r6(avg(col("value"))).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "win_start_s")

  /** Sliding (hopping) windows — width 2 s, slide 1 s: each event
    * contributes to exactly two windows. The reference has no sliding
    * windows (SURVEY §2.B); this is the engine generalization via
    * Spark's window() generator. Timestamps enter as epoch-µs longs
    * (Tables.events), so the TimestampType column is rebuilt for the
    * window generator and the output start is projected back to epoch
    * seconds for oracle stability. */
  def demuxWindowSliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .groupBy(col("user_id"), window(col("ts"), "2 seconds", "1 second"))
      .agg(r6(avg(col("value"))).as("avg_value"), count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("window.start")).as("win_start_us"),
        col("avg_value"), col("n_events"))
      .orderBy("user_id", "win_start_us")

  /** R17: first-event metadata per (key, window) — `min_by` over the
    * (ts, event_id) order key (reference takes the window head after its
    * stable batch sort :35,:141). min_by aggregates with a partial
    * (map-side) phase and no per-partition sort — at 100 TB this is one
    * combine-enabled shuffle instead of a full sort per key partition. */
  def windowFirstMeta(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("user_id"), usToSec(col("ts_us")).as("win_start_s"),
        col("event_id"), col("event_type"), col("ts_us"), col("value"))
      .groupBy(col("user_id"), col("win_start_s"))
      .agg(min_by(
        struct(col("event_id"), col("event_type"), col("ts_us"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("f"))
      .select(
        col("user_id"), col("win_start_s"),
        col("f.event_id").as("first_event_id"),
        col("f.event_type").as("first_event_type"),
        col("f.ts_us").as("first_ts_us"),
        r6(col("f.value")).as("first_value"))
      .orderBy("user_id", "win_start_s")

  /** R19: try-parse-else-0 aggregation (reference InternalParse
    * :164-170) over the stringly-typed JSON props field. */
  def safeCastAvg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_type"),
        coalesce(
          expr("try_cast(get_json_object(props, '$.k') as double)"),
          lit(0.0)).as("k"))
      .groupBy(col("event_type"))
      .agg(
        r6(avg(col("k"))).as("avg_k"),
        dsum(col("k")).as("sum_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** R4+R8: dead-letter accounting — parseable vs total per type. */
  def parseErrors(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') as double)").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        count(col("k")).as("n_parsed"),
        (count(lit(1)) - count(col("k"))).as("n_errors"))
      .orderBy("event_type")

  /** R2: JSON payload extraction (reference parse :177). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_type"))
      .orderBy("event_id")

  /** R21: parallel arrays → map pivot (reference allValues :144-150),
    * then exploded back to rows so the oracle comparison is flat.
    * String-typed values only (no double→string formatting). */
  def mapPivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_id"),
        map_from_arrays(
          array(lit("type"), lit("user")),
          array(col("event_type"), col("user_id").cast("string"))).as("m"))
      .select(col("event_id"), explode(col("m")).as(Seq("name", "val")))
      .orderBy("event_id", "name")

  /** R3: demux-key synthesis — the reference's `{SessionId}:{Values[1]}`
    * hack (:180) generalized to concat_ws over envelope fields. */
  def keySynthesis(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_id"),
        concat_ws(":", col("user_id"), col("event_type")).as("key"))
      .orderBy("event_id")

  /** R7: global event-time sort (reference OrderBy :35). */
  def eventSort(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("ts_us"),
        col("event_id"), col("user_id"), r6(col("value")).as("value"))
      .orderBy("ts_us", "event_id")

  /** R12 generalized: gap-based sessionization (30-minute gap) via
    * lag + running sum — the batch equivalent of session windows. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapS = 1800L
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") > gapS * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        r6(avg(col("value"))).as("avg_value"))
      .orderBy("user_id", "session_id")
  }

  /** Time-series gap fill at hour grain: per-user hourly counts with
    * MISSING hours materialized (zero-filled) and the hourly average
    * forward-filled across gaps — the densification step before any
    * fixed-step model consumes an event stream.
    *
    * Scale shape: the spine is generated per user from its own
    * [first, last] hour via `sequence` + `explode` — row count is
    * sum-of-spans, never |users| × |global range|, and generation is
    * distributed (no driver-side range). The fill join is a left join
    * on (user_id, hour) — same shuffle key as the aggregation, so AQE
    * coalesces; the forward fill is one ordered window per user. */
  def gapFillHourly(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val hourly = events(s, dir)
      .groupBy(col("user_id"), expr(s"ts_us div $hourUs").as("hour"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    val spine = hourly
      .groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val ffillW = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        r6(last(r6(col("sum_value") / col("n_events")), ignoreNulls = true)
          .over(ffillW)).as("run_avg"))
      .orderBy("user_id", "hour")
  }

  /** Ordered funnel (view → click → purchase): per user, the first
    * view, the first click AT OR AFTER that view, and the first
    * purchase at or after that click; then corpus-level conversion
    * counts. Three per-user conditional-min aggregations chained by
    * small self-joins on user_id — each stage's input is one row per
    * user (the aggregate), so the joins never touch event volume
    * twice; conversion rates ship as integer ppm (cohort sizes exceed
    * the r6 tie-safe range). */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts_us") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts_us") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        expr("1000000 * cast(n_click as decimal(38,0)) div n_view").as("click_ppm"),
        expr("1000000 * cast(n_purchase as decimal(38,0)) div n_view").as("purchase_ppm"))
  }

  /** Cohort retention: users grouped by signup day, counted as active
    * on each later day they emitted any event (offsets 0..13). Two
    * combine-enabled aggregations plus one join keyed on user_id —
    * the join's right side is one row per user (its cohort), so this
    * broadcast-or-shuffle joins by user count, not event count. */
  def retentionCohort(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val e = events(s, dir).select(col("user_id"), col("ts_us"), col("event_type"))
    val cohorts = e.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr(s"min(ts_us) div $dayUs").as("cohort_day"))
    val active = e.select(col("user_id"), expr(s"ts_us div $dayUs").as("day")).distinct()
    active.join(cohorts, "user_id")
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .where(col("day_offset").between(0, 13))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** SCD2 / temporal interval construction: collapse each user's event
    * stream into validity intervals of the event_type attribute —
    * consecutive same-type events merge into one segment
    * [valid_from, valid_to), the open segment carries valid_to = −1
    * and is_current = true. The islands-and-gaps classic: a lag marks
    * change points, a running sum numbers segments, lead supplies each
    * segment's end — all windows partitioned by user, so the shape is
    * per-key sorts, never a global one. */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    // seg is the SCD2 version number: strictly increasing in stream
    // order, so it totalizes every downstream sort even when two
    // segments of one user start at the same timestamp
    val segW = Window.partitionBy(col("user_id")).orderBy(col("seg"))
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("seg", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seg"), col("event_type"))
      .agg(min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(segW), lit(-1L)))
      .withColumn("is_current", col("valid_to_us") === -1L)
      .select(col("user_id"), col("seg").as("seg_no"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"),
        col("is_current"))
      .orderBy("user_id", "seg_no")
  }

  /** Rolling order statistics per key: trailing 10-event median, min,
    * max, and average of `value` — the windowed profile a monitoring /
    * feature pipeline computes per entity. The median is an exact
    * order statistic over the frame (sorted frame buffer →
    * nearest-rank pick, the same floor(q·(n−1)) convention DuckDB's
    * windowed quantile_disc uses), so no rounding is involved; the
    * frame average routes through decimal so summation-tree order
    * (Spark frame re-aggregation vs DuckDB segment trees) can't leak
    * into the double. Per-key sorts only. */
  def rollingStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .withColumn("vals", sort_array(collect_list(col("value")).over(w)))
      .withColumn("n_frame", size(col("vals")).cast("long"))
      .withColumn("dsum",
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
      .select(
        col("user_id"), col("ts_us"), col("event_id"),
        col("n_frame"),
        expr("element_at(vals, cast(floor(0.5 * (size(vals) - 1)) as int) + 1)")
          .as("roll_med"),
        element_at(col("vals"), 1).as("roll_min"),
        element_at(col("vals"), col("n_frame").cast("int")).as("roll_max"),
        r6(col("dsum") / col("n_frame").cast("double")).as("roll_avg"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Batch anomaly flagging: events whose value sits more than 3
    * per-user standard deviations from the user's mean — the
    * oracle-checked batch twin of StreamingAnomaly's running z-score.
    * Moments come from exact DECIMAL power sums (the q_agg_stats
    * discipline: engine accumulation order can't perturb them; only
    * the final scalar arithmetic is in doubles). Per-user stats are a
    * combine agg joined back against the scan; the join side scales
    * with |users|, so no broadcast hint — AQE broadcasts it at small
    * SF and falls back to a shuffle join when users outgrow the
    * threshold (SURVEY §8: broadcast only provably bounded sides). */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(28,8)")
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
    val stats = e.groupBy(col("user_id")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(d(col("value"))).cast("double").as("sx"),
      sum(d(col("value")) * d(col("value"))).cast("double").as("sxx"))
    val std = sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
    e.join(stats, "user_id")
      .where(std > 0d)
      .withColumn("z", (col("value") - col("sx") / col("n")) / std)
      .where(abs(col("z")) > 3d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
        r6(col("z")).as("z"))
      .orderBy("user_id", "event_id")
  }

  /** Event-type transition matrix (order-1 Markov view of the event
    * stream): per user, consecutive event pairs by event time, counted
    * per (from, to) and normalized per source state — the journey/
    * path-analysis primitive behind "what do users do after X".
    *
    * Scale shape: one per-user ordered window builds the pairs (sorts
    * parallelize across users), then the count shuffle carries the
    * TRANSITION VOCABULARY (|event types|² ≤ 25 rows), not events; the
    * per-source totals frame is vocabulary-bounded, so broadcasting it
    * is safe at any corpus size. Probabilities ship as exact integer
    * ppm (`1e6·cnt div total` — truncating division agrees across
    * engines; a double ratio of arbitrary counts can tie at the 7th
    * decimal). */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val counts = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("cnt")).cast("long").as("src_total"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"), col("src_total"),
        expr("1000000 * cast(cnt as decimal(38,0)) div src_total").as("prob_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** Concurrency profile: how many 30-min-gap sessions (q_sessionize's
    * exact session definition) are active in each 1-minute bucket —
    * the load curve capacity planning reads off an event stream.
    *
    * Scale shape: the classic sweep-line (+1/-1 running sum over all
    * boundaries) needs ONE GLOBAL ORDERED WINDOW — a single-partition
    * WindowExec at 100 TB. Instead each session explodes to its own
    * minute spine (`sequence` + `explode`, distributed; row count =
    * total session-minutes) and a combine-enabled count per bucket
    * replaces the running sum. Same answer, no global sort. */
  def concurrentSessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = 1800L * 1000000L
    val sessions = events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    sessions
      .select(explode(expr(
        "sequence(start_us div 60000000, end_us div 60000000)")).as("bucket_min"))
      .groupBy(col("bucket_min"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("bucket_min")
  }

  /** EWMA smoothing over the trailing 8 events per user with exact
    * dyadic weights 128,64,…,1 (α = 1/2, truncated) — the streaming-
    * friendly smoother as a batch query. A true infinite-history EWMA
    * is an order-dependent float recurrence no oracle could replay;
    * the truncated form is a FIXED 8-term linear combination, so the
    * whole thing routes through DECIMAL (exact at every step) and
    * ships as integer micro-units divided by the weight sum 255 —
    * engine-exact end to end. Only rows with a full 8-event history
    * emit (row_number ≥ 8), which also makes the result independent
    * of how partial frames would be weighted.
    *
    * Scale shape: one per-user ordered window, 8 lag columns — the
    * same per-key-sort-only shape as q_rolling_stats; no shuffle
    * beyond the window's key partitioning. */
  def ewmaSmooth(s: SparkSession, dir: String): DataFrame =
    ewmaOf(events(s, dir))

  /** The EWMA core over any (user_id, ts_us, event_id, value) frame —
    * EwmaSpec pins the weighting against a hand-computed fixture. */
  private[graft] def ewmaOf(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val dec = (c: Column) => c.cast("decimal(18,6)")
    val weighted = (0 to 7).map { k =>
      dec(lag(col("value"), k).over(w)) * lit(1L << (7 - k))
    }.reduce(_ + _)
    df
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("wsum", weighted)
      .where(col("rn") >= 8)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"),
        expr("cast(wsum * 1000000 as bigint) div 255").as("ewma_u"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** Interval union / temporal coverage (the islands-and-gaps interval
    * merge — the temporal-algebra dual of q_scd2_intervals' segment
    * build): each event opens a 5-minute activity interval; per user,
    * overlapping intervals merge into islands (new island ⇔ the event
    * starts after the running max of prior interval ends), and the
    * report is islands, exactly-covered time, span, and coverage as
    * exact ppm — all epoch-µs integer arithmetic end to end.
    *
    * Scale shape: two per-user ordered windows (running max of ends,
    * running island counter) + one (user, island) combine agg + one
    * per-user agg — per-key sorts only, no global ordering, nothing
    * all-pairs (the naive interval-overlap self-join is quadratic per
    * user; the sweep is linear). */
  def intervalUnion(s: SparkSession, dir: String): DataFrame = {
    val lenUs = 300L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val prevMax = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("ts_us") + lenUs).as("end_us"))
      .withColumn("new_island",
        when(col("ts_us") > coalesce(max(col("end_us")).over(prevMax),
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(byUser))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts_us")).as("island_start_us"),
        max(col("end_us")).as("island_end_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("island_end_us") - col("island_start_us")).cast("long")
          .as("covered_us"),
        (max(col("island_end_us")) - min(col("island_start_us")))
          .as("span_us"))
      .select(col("user_id"), col("n_islands"), col("covered_us"), col("span_us"),
        expr("1000000 * cast(covered_us as decimal(38,0)) div span_us").as("coverage_ppm"))
      .orderBy("user_id")
  }

  /** Min/max decimation (the M3/Grafana-style plot downsample that
    * keeps spike fidelity where plain averaging erases it): per
    * (user, hour) bucket, keep exactly the bucket's minimum-value and
    * maximum-value events, ties broken on event_id so both engines
    * pick the same row.
    *
    * Scale shape: two rank windows over the same (user, bucket)
    * partitioning — per-key sorts that parallelize across buckets; the
    * output is 2 rows per bucket regardless of input density, which is
    * the whole point of decimation at 100 TB. */
  def downsampleMinmax(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts_us div 3600000000").as("bucket_hr"))
    val minW = Window.partitionBy(col("user_id"), col("bucket_hr"))
      .orderBy(col("value"), col("event_id"))
    val maxW = Window.partitionBy(col("user_id"), col("bucket_hr"))
      .orderBy(col("value").desc, col("event_id"))
    val mins = e.withColumn("rn", row_number().over(minW))
      .where(col("rn") === 1).withColumn("kind", lit("min"))
    val maxs = e.withColumn("rn", row_number().over(maxW))
      .where(col("rn") === 1).withColumn("kind", lit("max"))
    mins.union(maxs)
      .select(col("user_id"), col("bucket_hr"), col("kind"),
        col("event_id"), col("value"))
      .orderBy("user_id", "bucket_hr", "kind", "event_id")
  }

  /** Per-key OLS trend (SQL's REGR_SLOPE/REGR_INTERCEPT family):
    * least-squares value-vs-time line per user — the drift/trend
    * primitive behind burn-down and degradation dashboards. The
    * builtins accumulate Welford-style (order-dependent per engine),
    * and decimal PRODUCT sums are a cross-engine trap (Spark clamps
    * the (28,8)×(28,8) product to DECIMAL(38,6) under
    * allowPrecisionLoss while DuckDB keeps scale 16 — the r5 red
    * row), so the moments are exact INTEGER power sums: x is whole
    * seconds since the user's own first event, y is value floored to
    * 1e-6 micro-units (one IEEE multiply + floor, bit-identical per
    * engine), products stay in BIGINT (x ≤ 2.6e6 s, y_u ≤ 5.6e8 at
    * every SF), the sums ride DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB) — both exact to ≥1e38 — and slope/intercept ship as
    * integer NANO-units via pure integer division (truncation toward
    * zero, probed identical in both engines): no double conversion
    * exists anywhere in the plan, because DuckDB's HUGEINT→DOUBLE and
    * DECIMAL→DOUBLE casts are NOT correctly rounded (probed off by
    * 1 ulp above 2^53; only BIGINT→DOUBLE rounds to nearest).
    * slope_nano = 1e9·slope = num·1000 div den since num/den is
    * already slope·1e6; intercept·1e9 = (syu·den − num·sx)·1000 div
    * (n·den) from intercept = (Σy − slope·Σx)/n.
    *
    * Scale shape: one per-user window for the time origin riding the
    * same partitioning as the combine agg — per-key sorts and a
    * 5-sum aggregate; nothing global. Headroom: the widest product,
    * syu·den ≤ (n·y_u)·(n²·x²) — at 1e9 rows/key, x ≤ 3e7 s,
    * y_u ≤ 1e9 that is ~1e36 < 1e38; beyond that re-origin x per
    * epoch or drop to 1e-3 milli-units. */
  def regrPerKey(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("value"))
      .withColumn("x", expr(
        "(ts_us - min(ts_us) over (partition by user_id)) div 1000000"))
      .withColumn("yu", expr(
        "cast(floor(value * cast(1000000 as double)) as bigint)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"),
        sum(d38(col("x") * col("x"))).as("sxx"),
        sum(d38(col("yu"))).as("syu"),
        sum(d38(col("x") * col("yu"))).as("sxyu"))
      .withColumn("den", d38(col("n")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("num", d38(col("n")) * col("sxyu") - col("sx") * col("syu"))
      .where(col("den") > lit(0))
      .select(col("user_id"), col("n").as("n_events"),
        expr("num * 1000 div den").as("slope_nano"),
        expr("(syu * den - num * sx) * 1000 div (cast(n as decimal(38,0)) * den)")
          .as("intercept_nano"))
      .orderBy("user_id")
  }

  /** Typed semi-structured access via Spark 4's VARIANT (the engine's
    * modern JSON path — parse once into the binary variant encoding,
    * then typed `variant_get` extraction; q_json_extract keeps the
    * classic string-path `get_json_object` for contrast). Filters on
    * the extracted value prove predicates compose with variant
    * access; the null-channel column pins the missing-path → NULL
    * contract.
    *
    * Scale shape: scan-side projection + filter only — the variant
    * parse is once per row (not per extracted path), which is the
    * whole point of the encoding at 100 TB. */
  def variantExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("parse_json(props)").as("v"))
      .select(col("event_id"), col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.missing', 'bigint')").as("missing_path"),
        (expr("variant_get(v, '$.k', 'bigint')") * 2L).as("k_doubled"))
      .where(col("k") % 3 === 0)
      .orderBy("event_id")

  /** Per-key time-weighted average over irregular samples — the
    * telemetry/billing aggregate a plain mean gets WRONG on
    * non-uniform sampling (a sensor that reports rarely while idle
    * and rapidly while active biases the plain mean toward the
    * active value; weighting each sample by its holding interval
    * de-biases it). Each event's value holds until the next event
    * (step interpolation, last interval excluded — the standard
    * left-Riemann TWA); emitted beside the plain mean so the bias is
    * visible in the data. All arithmetic is exact integers: values
    * floored to 1e-6 micro-units, interval weights in epoch-µs,
    * products in BIGINT summed through DECIMAL(38,0)/HUGEINT, and
    * both averages ship via integer division (the q_regr_per_key
    * discipline — no double conversion anywhere).
    *
    * Scale shape: one per-user window sort (lead) riding the same
    * partitioning as the combine agg; nothing global. Headroom: the
    * widest product dt_us·y_u at years-scale gaps (~3e13 µs) × 1e9
    * micro-units is ~3e22 per term — inside the DECIMAL(38,0) sum,
    * outside BIGINT, which is why each term is cast BEFORE
    * multiplying. */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)")
          .as("yu"))
      .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
        sum(when(col("next_ts").isNotNull,
            (col("next_ts") - col("ts_us")).cast("decimal(38,0)") * col("yu"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("wsum"),
        sum(col("yu").cast("decimal(38,0)")).as("vsum"))
      .where(col("span_us") > 0)
      .select(col("user_id"), col("n_events"), col("span_us"),
        expr("cast(wsum div span_us as bigint)").as("twa_micro"),
        expr("cast(vsum div n_events as bigint)").as("mean_micro"))
      .orderBy("user_id")
  }

  /** Watermark-sizing audit — the capacity-planning number a
    * Structured Streaming deploy needs BEFORE picking
    * `withWatermark`'s allowed lateness: replay the event-time-ordered
    * log through a deterministic arrival-jitter model (hash-derived
    * delay < 30 s — both engines compute the identical permutation),
    * track the watermark each event observes on arrival (max event
    * time over all strictly-earlier arrivals), and count the events a
    * 1 s / 5 s / 15 s allowed-lateness would DROP, per event type,
    * plus the worst observed disorder. Generalizes the reference's
    * add-then-check late-drop quirk (DispatcherFunction.cs:87) from
    * one window to the stream-wide sizing question.
    *
    * The running watermark is a DISTRIBUTED two-phase prefix max —
    * per-arrival-minute partials window-offset on the bounded
    * minute frame, then a window partitioned BY minute adds the
    * within-minute strictly-preceding max (the q_token_budget
    * discipline; never a global single-partition ordered window).
    * Minute order refines arrival order, so greatest(cross-minute,
    * within-minute) IS the global strictly-preceding max; both
    * prefixes coalesce to the row's own ts (an absent predecessor
    * can never mark a row late). All-integer micros — exact. */
  def lateEvents(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .select(col("event_id"), col("event_type"), col("ts_us"))
      .withColumn("arr_us", col("ts_us") + expr(PortableHashes.hashSql(
        "concat('late:', cast(event_id as string))") + " % 30000000"))
      .withColumn("mnt", expr("arr_us div 60000000"))
    val offW = Window.orderBy(col("mnt")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy(col("mnt")).agg(max(col("ts_us")).as("bmax"))
      .select(col("mnt"), max(col("bmax")).over(offW).as("pre_bucket"))
    val inW = Window.partitionBy(col("mnt"))
      .orderBy(col("arr_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offs), "mnt")
      .withColumn("wm", greatest(
        coalesce(max(col("ts_us")).over(inW), col("ts_us")),
        coalesce(col("pre_bucket"), col("ts_us"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("ts_us") < col("wm") - 1000000L, 1L).otherwise(0L))
          .as("n_late_1s"),
        sum(when(col("ts_us") < col("wm") - 5000000L, 1L).otherwise(0L))
          .as("n_late_5s"),
        sum(when(col("ts_us") < col("wm") - 15000000L, 1L).otherwise(0L))
          .as("n_late_15s"),
        max(greatest(col("wm") - col("ts_us"), lit(0L)))
          .as("max_disorder_us"))
      .select(col("event_type"), col("n_events"),
        col("n_late_1s"),
        expr("1000000 * cast(n_late_1s as decimal(38,0)) div n_events")
          .cast("long").as("late_ppm_1s"),
        col("n_late_5s"),
        expr("1000000 * cast(n_late_5s as decimal(38,0)) div n_events")
          .cast("long").as("late_ppm_5s"),
        col("n_late_15s"),
        expr("1000000 * cast(n_late_15s as decimal(38,0)) div n_events")
          .cast("long").as("late_ppm_15s"),
        col("max_disorder_us"))
      .orderBy("event_type")
  }

  /** Deterministic Poisson bootstrap CI for the per-type mean — error
    * bars on a pipeline metric in ONE distributed pass (Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams", the
    * production replacement for resample-loops that can't exist at
    * 100 TB): each row joins each of 32 replicates with a hash-drawn
    * Poisson(1) weight (frozen cumulative-pmf thresholds in 2^20
    * space — both engines draw the identical table; the 32 draws
    * derive arithmetically from ONE sha per event via the universal
    * affine family, so hash volume is corpus-sized), replicate means
    * in exact micro-units, and the CI from the replicate spread via
    * integer power sums (one double conversion + sqrt at the end, a
    * fixed IEEE sequence). Shuffle shape: the 32x explode is
    * scan-side; the replicate agg is a (types x 32)-key combine; the
    * final agg is types-keyed. Weight sums ride DECIMAL(38,0) — no
    * bigint overflow at any scale. */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val reps = 32
    // spread: the replicate path below runs one sha + a 32-way explode
    // + the Poisson-weight case per event BEFORE its partial agg — on
    // the driver testdata's single parquet split that whole map side
    // would serialize on one core (Tables.spread scaladoc; no-op at
    // real scale)
    val e = Tables.spread(s, events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)").as("yu")))
    val plain = e.groupBy(col("event_type"))
      .agg(expr("cast(sum(cast(yu as decimal(38,0))) div count(1) as bigint)")
        .as("mean_u"))
    // ONE sha per event; the 32 per-replicate draws derive from it
    // arithmetically (the MinhashSigs universal-family discipline) —
    // sha volume is corpus-sized, not corpus × reps (5.1 s → ~1.5 s at
    // sf0.1). Statistically ADEQUATE, not identical, to 32 independent
    // shas: the universal family gives pairwise independence across
    // events, but within one event the 32 draws are an affine chain of
    // one hash, which can shift CI coverage slightly (ADVICE r7)
    val repMeans = e
      .withColumn("h", expr(PortableHashes.hashSql(
        "concat('bs:', cast(event_id as string))") + " % 2147483647"))
      .select(col("event_type"), col("yu"), col("h"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("r"))
      .withColumn("u", expr(
        "(h * (r + 1) + 37 * r + 101) % 2147483647 % 1048576"))
      .withColumn("w", expr(
        """case when u < 385749 then 0 when u < 771499 then 1
          |when u < 964372 then 2 when u < 1028665 then 3
          |when u < 1044738 then 4 else 5 end""".stripMargin
          .replaceAll("\n", " ")).cast("long"))
      .groupBy(col("event_type"), col("r"))
      .agg(sum((col("w") * col("yu")).cast("decimal(38,0)")).as("wsum"),
        sum(col("w")).as("wn"))
      .where(col("wn") > 0)
      .select(col("event_type"), expr("cast(wsum div wn as bigint)").as("rm"))
    repMeans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        sum(col("rm").cast("decimal(38,0)")).as("s1"),
        sum(col("rm").cast("decimal(38,0)") * col("rm").cast("decimal(38,0)"))
          .as("s2"))
      .select(col("event_type"), col("n_reps"),
        expr("cast(s1 div n_reps as bigint)").as("boot_mean_u"),
        expr("""cast(floor(sqrt(
            cast(cast(n_reps as decimal(38,0)) * s2 - s1 * s1 as double)
            / cast(n_reps * (n_reps - 1) as double))) as bigint)""")
          .as("boot_sd_u"))
      .join(plain, "event_type")
      .select(col("event_type"), col("mean_u"), col("n_reps"),
        col("boot_mean_u"), col("boot_sd_u"),
        (col("boot_mean_u") - col("boot_sd_u") * 2L).as("ci_lo_u"),
        (col("boot_mean_u") + col("boot_sd_u") * 2L).as("ci_hi_u"))
      .orderBy("event_type")
  }

  /** A/B experiment readout — deterministic hash cohorting + Welch
    * z-score, the experimentation-platform primitive: users split
    * 50/50 by the portable hash (assignment is a pure function of
    * user_id — reproducible across engines, runs, and days, the
    * property real platforms require), per-event-type cohort means
    * compared with the z from Welch's unequal-variance standard
    * error. Moments ride exact integer micro-unit power sums (the
    * q_regr_per_key discipline); the variance-of-mean terms convert
    * to double ONCE from exact decimals and the z lands as floored
    * milli-units — a fixed IEEE sequence both engines replay. One
    * combine agg on (event_type, cohort); the pivot to side-by-side
    * columns moves 2 rows per type. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val g = events(s, dir)
      .select(col("event_type"),
        expr(PortableHashes.hashSql(
          "concat('exp:', cast(user_id as string))") + " % 2").as("cohort"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)")
          .as("yu"))
      .groupBy(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("n"), sum(d38(col("yu"))).as("s1"),
        sum(d38(col("yu")) * d38(col("yu"))).as("s2"))
    val c = g.where(col("cohort") === 0)
      .select(col("event_type"), col("n").as("n_c"),
        col("s1").as("s1_c"), col("s2").as("s2_c"))
    val t = g.where(col("cohort") === 1)
      .select(col("event_type"), col("n").as("n_t"),
        col("s1").as("s1_t"), col("s2").as("s2_t"))
    c.join(t, "event_type")
      .select(col("event_type"), col("n_c"), col("n_t"),
        expr("cast(s1_c div n_c as bigint)").as("mean_c_u"),
        expr("cast(s1_t div n_t as bigint)").as("mean_t_u"),
        expr("cast(s1_t div n_t as bigint) - cast(s1_c div n_c as bigint)")
          .as("diff_u"),
        expr("""cast(floor(1000.0 * cast(
            cast(s1_t div n_t as bigint) - cast(s1_c div n_c as bigint)
          as double) / sqrt(
            cast(cast(n_c as decimal(38,0)) * s2_c - s1_c * s1_c as double)
              / (cast(n_c as double) * cast(n_c as double)
                 * cast(n_c - 1 as double))
            + cast(cast(n_t as decimal(38,0)) * s2_t - s1_t * s1_t as double)
              / (cast(n_t as double) * cast(n_t as double)
                 * cast(n_t - 1 as double)))) as bigint)""").as("z_milli"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint scan (Page 1954) — per-key mean-shift
    * detection over the event stream, the monitoring primitive behind
    * "did this sensor drift mid-run". The textbook recurrence
    * S_i = max(0, S_{i-1} + dev_i) is order-dependent and looks
    * stream-only, but it has a closed form over prefix sums:
    * S_i = P_i − min(0, min_{j≤i} P_j) (and the downward side is the
    * mirror against the running max), so the whole scan is two
    * per-key ordered windows — no recursion, no driver loop, no
    * mapPartitions. Deviations are taken from the per-key mean
    * SCALED BY n (dev = n·yu − Σyu, exact integers) so no division
    * ever happens before the end; the one `div` normalizes the
    * already-positive maxima back to micro-units (positive, so
    * Spark's truncating `div` ≡ DuckDB's flooring `//`). The peak
    * position (argmax of S⁺ — the classic changepoint location
    * estimate) and the count of threshold excursions (maximal runs
    * with S⁺ > n·50 value-units, counted by run starts) ride the
    * same sort.
    *
    * Scale shape: one combine agg for the per-key moments, joined
    * back (AQE broadcasts the |keys|-row side at small SF); ONE
    * per-key sort serves all four windows (prefix sum, prefix
    * min/max, full-frame max, lag) — Catalyst stacks them on a
    * single Exchange+Sort; final agg rides the same partitioning.
    * Everything is DECIMAL(38,0)-exact: n·yu at 1e10 rows/key ×
    * 5e8 micro-units sits at 5e18 per term and the prefix sums stay
    * far inside 38 digits. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)")
          .as("yu"))
    val stats = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(d38(col("yu"))).as("vsum"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val pre = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    e.join(stats, "user_id")
      .withColumn("dev", d38(col("n")) * d38(col("yu")) - col("vsum"))
      .withColumn("p", sum(col("dev")).over(pre))
      .withColumn("s_up", col("p") - least(min(col("p")).over(pre), d38(lit(0))))
      .withColumn("s_dn", greatest(max(col("p")).over(pre), d38(lit(0))) - col("p"))
      .withColumn("mx_up", max(col("s_up")).over(full))
      .withColumn("flagi",
        when(col("s_up") > d38(col("n")) * lit(50000000L), 1L).otherwise(0L))
      .withColumn("run_start",
        when(col("flagi") === 1L &&
          coalesce(lag(col("flagi"), 1).over(w), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("cast(max(s_up) div max(n) as bigint)").as("max_up_u"),
        expr("cast(max(s_dn) div max(n) as bigint)").as("max_dn_u"),
        min(when(col("s_up") === col("mx_up"), col("ts_us")))
          .as("peak_up_ts"),
        sum(col("run_start")).as("n_up_runs"))
      .orderBy("user_id")
  }

  /** Half-life decayed activity score — the recency weighting every
    * feature store / trending-topics job runs: each event counts
    * 2^(−age_hours) with a 1-hour half-life and a HARD 40 h horizon
    * (weight exactly 0 past it), ages measured in hour buckets back
    * from the corpus max hour. Exponential decay is usually a float
    * recurrence; here the weight is an exact dyadic rational
    * (2^(40−k) integer mass), summed in DECIMAL(38,0) and normalized
    * by ONE final `div 2^40` — so the score is bit-exact
    * cross-engine and order-independent. Hour-aligned ages + the
    * hard horizon are what make the state MERGEABLE and streamable:
    * a per-key ring buffer of ≤ 41 hour buckets re-anchors by
    * relabeling, with no accumulated truncation (StreamingDecay
    * maintains exactly that state and replays this query
    * bit-for-bit).
    *
    * Scale shape: the "now" anchor is a 1-row global max broadcast
    * back (bounded); then ONE combine agg on user_id — weights are
    * computed scan-side, nothing else moves. */
  def decayCounts(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"),
        expr("ts_us div 3600000000").as("h"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)")
          .as("yu"))
    val now = e.agg(max(col("h")).as("hnow"))
    e.crossJoin(broadcast(now))
      .withColumn("k", col("hnow") - col("h"))
      .withColumn("w2",
        when(col("k") <= 40L,
          expr("shiftleft(cast(1 as bigint), cast(40 - k as int))"))
          .otherwise(lit(0L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w2").cast("decimal(38,0)")).as("wsum"),
        sum(col("w2").cast("decimal(38,0)") * col("yu")).as("wvsum"))
      .select(col("user_id"), col("n_events"),
        expr("cast((wsum * 1000) div 1099511627776 as bigint)")
          .as("decayed_n_milli"),
        expr("cast(wvsum div 1099511627776 as bigint)")
          .as("decayed_sum_u"))
      .orderBy("user_id")
  }

  /** Type × hour-of-day activity heatmap with lift — the 2-D
    * contingency profile (when does each event type actually fire)
    * plus the association strength a dashboard wants on the cell:
    * lift_ppm = 1e6 · c·N / (rowsum · colsum), the observed/expected
    * ratio under independence, computed as exact integer
    * multiply-then-div (c·N·1e6 at 100 TB is ~1e30 — inside the
    * DECIMAL(38,0) product, far outside bigint, which is why the
    * numerator casts before multiplying).
    *
    * Scale shape: ONE combine agg collapses the corpus to the
    * ≤ |types|×24 grid; marginals and the grand total are window
    * sums OVER THE GRID FRAME (bounded, no second pass over data) —
    * the single-partition window here spans ≤ 120 rows by
    * construction, not the corpus. */
  def eventHeatmap(s: SparkSession, dir: String): DataFrame = {
    val grid = events(s, dir)
      .select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("c"))
    grid
      .withColumn("rs", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("cs", sum(col("c")).over(Window.partitionBy(col("hr"))))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy()))
      .select(col("event_type"), col("hr"), col("c"),
        expr("""cast((cast(c as decimal(38,0)) * nn * 1000000)
          div (rs * cs) as bigint)""").as("lift_ppm"))
      .orderBy("event_type", "hr")
  }

  /** Micro-unit event values (floor(value·1e6) — NEVER a raw double
    * into rank/compare logic) shared by the robust-stats pair below. */
  private def microValues(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_type"), col("event_id"),
      expr("cast(floor(value * cast(1000000 as double)) as bigint)").as("vu"))

  /** Winsorization (percentile clipping) per event type — the
    * standard robust-cleaning step before a value column feeds a
    * model or a mean-based monitor: clip at the exact discrete
    * p05/p95 order statistics (rank 1 + (n−1)·q div 100 — integer
    * positions, so both engines pick the SAME element; interpolated
    * variants reintroduce doubles for no robustness gain) and report
    * clip counts plus the raw vs winsorized mean — the number that
    * shows how much tail mass the clip removed. All arithmetic is
    * exact: micro-unit values, DECIMAL(38,0) sums (corpus-scale sums
    * overflow bigint), one truncating division per mean.
    *
    * Scale shape: the clip bounds are two-phase SELECTION order
    * statistics ([[TwoPhaseRank.orderStatistics]], r9): (type,
    * bucket) counts roll up map-side (only the bounded grid moves),
    * the offsets grid locates which buckets hold the p05/p95 ranks,
    * and ONLY those buckets' rows are sorted — the corpus itself
    * crosses no exchange and is never window-partitioned on the
    * ≤ |event types| key. Provably the same discrete order statistic
    * (oracle unchanged). The 5-row bounds frame broadcasts back; one
    * map-side-combined agg finishes. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val vu = microValues(s, dir)
    val bounds = TwoPhaseRank.orderStatistics(
      vu, Seq("event_type"), "vu", Seq(col("event_id")),
      Seq("lo_u" -> "1 + (n - 1) * 5 div 100",
        "hi_u" -> "1 + (n - 1) * 95 div 100"))
      .select(col("event_type"), col("lo_u"), col("hi_u"))
    vu.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("lo_u")).as("lo2"), max(col("hi_u")).as("hi2"),
        sum(when(col("vu") < col("lo_u"), 1L).otherwise(0L)).as("n_lo_clipped"),
        sum(when(col("vu") > col("hi_u"), 1L).otherwise(0L)).as("n_hi_clipped"),
        sum(col("vu").cast("decimal(38,0)")).as("sum_raw"),
        sum(greatest(least(col("vu"), col("hi_u")), col("lo_u"))
          .cast("decimal(38,0)")).as("sum_wins"))
      .select(col("event_type"), col("n_events"),
        col("lo2").as("lo_u"), col("hi2").as("hi_u"),
        col("n_lo_clipped"), col("n_hi_clipped"),
        expr("cast(sum_raw div n_events as bigint)").as("mean_raw_u"),
        expr("cast(sum_wins div n_events as bigint)").as("mean_wins_u"))
      .orderBy("event_type")
  }

  /** Median-absolute-deviation outlier census per event type — the
    * robust twin of q_anomaly_zscore: median and MAD are insensitive
    * to the very outliers being hunted (a heavy tail inflates a
    * stddev until it hides its own spikes), so |x − median| > 3·MAD
    * is the standard robust rule. Both medians are exact discrete
    * order statistics (lower median, rank 1 + (n−1) div 2) over
    * micro-unit integers — no interpolation, no doubles, so the
    * whole operator is integer-exact cross-engine.
    *
    * Scale shape: two two-phase SELECTION order statistics
    * ([[TwoPhaseRank.orderStatistics]], r9 — values, then absolute
    * deviations; the second pass is inherent: MAD is a median OF a
    * median-derived column). Each pass moves only the bounded (type,
    * bucket) counts grid and sorts only the median-holding buckets —
    * the corpus crosses no exchange and is never window-partitioned
    * on the ≤ |event types| key; provably the same discrete order
    * statistic (oracle unchanged). The 5-row median/MAD frames
    * broadcast back; one final map-side-combined agg. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val vu = microValues(s, dir)
    val med = TwoPhaseRank.orderStatistics(
      vu, Seq("event_type"), "vu", Seq(col("event_id")),
      Seq("med_u" -> "1 + (n - 1) div 2"))
      .select(col("event_type"), col("med_u"))
    val dev = vu.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("vu") - col("med_u")))
    val mad = TwoPhaseRank.orderStatistics(
      dev, Seq("event_type"), "dev", Seq(col("event_id")),
      Seq("mad_u" -> "1 + (n - 1) div 2"))
      .select(col("event_type"), col("mad_u"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med_u")).as("median_u"),
        max(col("mad_u")).as("mad_u"),
        sum(when(col("dev") > lit(3L) * col("mad_u"), 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("dev")).as("max_dev_u"))
      .orderBy("event_type")
  }

  /** Two-sample Kolmogorov–Smirnov drift test per event type — did
    * the value distribution SHIFT between the early and late half of
    * the corpus? The distribution-free change detector that catches
    * what mean-based monitors (q_cusum_changepoint tracks the mean)
    * miss: variance changes, tail inflation, bimodality. The split
    * point is the midpoint of the global time range (a 1-row
    * broadcast); the KS statistic sup|F_early − F_late| is computed
    * EXACTLY in integers — ECDFs as RANGE-frame cumulative counts
    * (peers share a frame, so ties resolve identically in both
    * engines) and the sup as max|c_a·n_b − c_b·n_a| cross-multiplied
    * in DECIMAL(38,0)/HUGEINT, shipped as ppm of n_a·n_b plus the
    * micro-unit value where the sup is attained.
    *
    * Scale shape: the ECDF cumulative counts are the DISTRIBUTED
    * two-phase RANGE-frame prefix sums ([[TwoPhaseRank
    * .withRangeCumSums]]) — never a corpus-sized ordered window
    * partitioned on the ≤ |event types| key; exchanges stay on the
    * uniform (type, bucket) grain, peers of a value share a bucket so
    * the RANGE tie semantics are exact, and the result provably
    * equals the naive per-type cumulative (oracle unchanged). The
    * per-type totals ride a map-side-combined 5-row agg; the sup and
    * its attaining value come from ONE lexicographic (d, −vu) max in
    * the final combine — no dmax window. The midpoint is a
    * scan-reduce broadcast. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("ts_us"),
      expr("cast(floor(value * cast(1000000 as double)) as bigint)").as("vu"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid_us"))
    val tagged = ev.crossJoin(broadcast(mid))
      .withColumn("ia", when(col("ts_us") <= col("mid_us"), 1L).otherwise(0L))
      .withColumn("ib", lit(1L) - col("ia"))
    val totals = tagged.groupBy(col("event_type"))
      .agg(sum(col("ia")).as("na"), sum(col("ib")).as("nb"))
    TwoPhaseRank.withRangeCumSums(
        tagged, Seq("event_type"), "vu", Seq("ia" -> "ca", "ib" -> "cb"))
      .join(broadcast(totals), "event_type")
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("d", abs(expr(
        "cast(ca as decimal(38,0)) * nb - cast(cb as decimal(38,0)) * na")))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_early"), max(col("nb")).as("n_late"),
        expr("""cast(max(d) * 1000000 div
                (cast(max(na) as decimal(38,0)) * max(nb)) as bigint)""")
          .as("ks_ppm"),
        // lexicographic max over (d, -vu): max d first, then min vu
        // among its peers — identical to min(vu where d = dmax)
        max(struct(col("d"), (-col("vu")).as("nv"))).as("m"))
      .select(col("event_type"), col("n_early"), col("n_late"),
        col("ks_ppm"), (-col("m.nv")).as("ks_at_u"))
      .orderBy("event_type")
  }

  /** Lag-k autocorrelation (the ACF head, k = 1..3) per event type —
    * the memory/seasonality probe behind AR-model selection and
    * "is this series i.i.d. or sticky?" monitoring. Each lag's
    * coefficient is the OLS slope of x_t on x_{t−k} (the standard
    * AR(k) estimate), assembled from DECIMAL(38,0)/HUGEINT power
    * sums over micro-unit values — products cast wide BEFORE the
    * multiply (the unbounded-numerator discipline) — and shipped as
    * an exact integer-div ppm; degenerate lags (constant or too few
    * pairs) emit NULL identically in both engines.
    *
    * Scale shape: the lags are the DISTRIBUTED two-phase sequential
    * lag ([[TwoPhaseRank.withLags]], r9): a uniform-grain two-phase
    * rank orders the series, fixed-size rank blocks receive the
    * previous block's last 3 rows as carry-in, and an ordinary
    * (type, block) window — all three Lag expressions share its
    * sort — computes the lags; provably equal to the naive per-type
    * corpus window (oracle unchanged). One combine agg; 5 output
    * rows. The rank bucket is an explicit HOURLY coarsening of
    * `ts_us`: the default bitlength bucket is degenerate on
    * epoch-microsecond domains (constant bitlength ⇒ one bucket ⇒
    * one sort task per type — the serialized shape back again),
    * while `ts_us div 3.6e9` spreads a 30-day corpus over ~720
    * monotone buckets and stays grid-bounded at decade spans. */
  def lagAutocorr(s: SparkSession, dir: String): DataFrame = {
    // pin the ranked frame (4 narrow columns + rank): withLags
    // references it twice (main + carry), and unpinned each side
    // re-ran the events scan + two-phase rank (8 scans in the r15
    // plan)
    val lagged = TwoPhaseRank.withLags(
      events(s, dir).select(col("event_type"), col("event_id"), col("ts_us"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)").as("vu")),
      Seq("event_type"), "ts_us", Seq(col("event_id")), "vu", 3, "x",
      bucketOverride = Some(expr("ts_us div 3600000000")), pin = Tables.pin)
    val sums = (1 to 3).flatMap { k =>
      Seq(count(col(s"x$k")).cast("long").as(s"n$k"),
        sum(expr(s"cast(x$k as decimal(38,0))")).as(s"sx$k"),
        sum(expr(s"case when x$k is not null then cast(vu as decimal(38,0)) end"))
          .as(s"sy$k"),
        sum(expr(s"cast(x$k as decimal(38,0)) * x$k")).as(s"sxx$k"),
        sum(expr(s"cast(x$k as decimal(38,0)) * vu")).as(s"sxy$k"))
    }
    val ars = (1 to 3).map { k =>
      expr(s"""cast(case when cast(n$k as decimal(38,0)) * sxx$k - sx$k * sx$k > 0
              | then (cast(n$k as decimal(38,0)) * sxy$k - sx$k * sy$k) * 1000000
              |      div (cast(n$k as decimal(38,0)) * sxx$k - sx$k * sx$k)
              | end as bigint)""".stripMargin).as(s"ar${k}_ppm")
    }
    val allSums = count(lit(1)).as("n_events") +: sums
    lagged.groupBy(col("event_type"))
      .agg(allSums.head, allSums.tail: _*)
      .select(col("event_type") +: col("n_events") +: ars: _*)
      .orderBy("event_type")
  }

  /** Multi-touch revenue attribution — the marketing-analytics
    * counterpart of q_funnel: every `purchase` credits (a) the user's
    * FIRST preceding non-purchase touch and (b) the LAST one, and the
    * report pivots both models side by side per touch type — the
    * first-vs-last divergence IS the decision number (which channel
    * opens journeys vs which closes them). Purchase revenue rides in
    * exact micro-units through DECIMAL(38,0) sums; purchases with no
    * preceding touch are excluded identically in both engines (the
    * IGNORE-NULLS window is null exactly then).
    *
    * Scale shape: one per-user time-ordered window (two IGNORE-NULLS
    * navigation functions share its sort), a 2-row stack explode, and
    * one combine agg to ≤ 2·|types| rows. Same envelope as
    * q_event_transitions. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)").as("vu"))
      .withColumn("first_touch",
        first(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      .withColumn("last_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("last_touch").isNotNull)
      .selectExpr("vu",
        "stack(2, 'first', first_touch, 'last', last_touch) as (model, touch_type)")
      .groupBy(col("model"), col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("vu").cast("decimal(38,0)")).as("rev"))
      .select(col("model"), col("touch_type"), col("n_purchases"),
        col("rev").cast("long").as("revenue_u"))
      .orderBy("model", "touch_type")
  }

  /** Top 3-step behavioral paths — the path-mining report one level
    * above q_event_transitions' bigram matrix: per user the
    * time-ordered trigram of event types, counted corpus-wide, top 20
    * with an exact ppm share of all trigrams. The path DOMAIN is
    * bounded (|types|³), so everything after the per-user window is
    * constant-size.
    *
    * Scale shape: the per-user ordered window (two Lag expressions,
    * one sort), a combine agg onto the bounded path domain, a
    * single-partition total window over ≤ |types|³ rows, TakeOrdered
    * 20. */
  def pathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .where(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .withColumn("share_ppm", expr(
        "1000000 * cast(n_paths as decimal(38,0)) div sum(n_paths) over ()"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(20)
  }

  /** Market-basket lift over per-user event-type sets — the
    * association audit behind "users who X also Y" features: for every
    * ordered type pair (a < b), the users holding both, and lift =
    * P(ab)/(P(a)·P(b)) as an exact ppm ratio n_ab·N·1e6 / (n_a·n_b).
    * Lift > 1e6 means co-occurrence beyond independence — a candidate
    * cross-feature; ≈ 1e6 means the pair carries no signal. All
    * integer, products cast wide before multiplying.
    *
    * Scale shape: ONE user-keyed combine shuffle builds the sorted
    * type-set basket per user (set size bounded by |types|, so agg
    * state is bounded); ordered pairs are generated ARRAY-SIDE from
    * the sorted set — no self-join, no second pass over the events —
    * then supports and pairs each combine to ≤ |types|² rows. No row²
    * anywhere — the quadratic is in the BOUNDED type space. (A
    * distinct + user-keyed self-join formulation planned 6 hash
    * exchanges; this plans 3.) */
  def eventLift(s: SparkSession, dir: String): DataFrame = {
    val baskets = events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val nUsers = baskets.agg(count(lit(1)).as("n_users"))
    val support = baskets
      .select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(types, (a, i) ->
          |  transform(slice(types, i + 2, size(types) - i - 1),
          |    b -> struct(a AS type_a, b AS type_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(support).withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n_t", "n_a"), "type_a")
      .join(broadcast(support).withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n_t", "n_b"), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        expr("""cast(cast(n_ab as decimal(38,0)) * n_users * 1000000
          div (cast(n_a as decimal(38,0)) * n_b) as bigint)""")
          .as("lift_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** k-anonymity audit over the (event_type, hour-of-day) quasi-
    * identifier grid — the privacy gate before an event export leaves
    * the pipeline: cells whose DISTINCT-user population is below k=5
    * re-identify; the audit reports, per event type, how many cells
    * and rows sit in that risk zone. Integer counts only.
    *
    * Scale shape: one combine agg on the bounded |types|·24 grid
    * (count + distinct users via two-phase distinct), then a ≤ |types|
    * combine rollup. The grid is fixed-size at any corpus scale. */
  def kanonAudit(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .select(col("event_type"),
        expr("ts_us div 3600000000 % 24").as("hour"),
        col("user_id"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("user_id")).as("n_users"))
    cells
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("n_users") < 5, 1L).otherwise(0L)).as("n_small_cells"),
        sum(when(col("n_users") < 5, col("n_rows")).otherwise(0L))
          .as("n_rows_at_risk"),
        sum(col("n_rows")).as("n_rows_total"))
      .select(col("event_type"), col("n_cells"),
        col("n_small_cells").cast("long").as("n_small_cells"),
        col("n_rows_at_risk").cast("long").as("n_rows_at_risk"),
        expr("""cast(cast(coalesce(n_rows_at_risk, 0) as decimal(38,0))
          * 1000000 div n_rows_total as bigint)""").as("risk_ppm"))
      .orderBy("event_type")
  }

  /** Per-session ML feature extraction — the feature-engineering pass
    * a ranking/propensity model consumes: q_sessionize's 30-minute-gap
    * sessions, each reduced to duration, event count, distinct types,
    * value mass (micro-units), and the max/mean inter-event gap. The
    * mean gap is duration div (n−1) — exact integer; value mass rides
    * the micro-unit BIGINT discipline.
    *
    * Scale shape: ONE per-user ordered window (lag + running session
    * sum share its sort) + one combine agg on (user, session); the
    * distinct-type count is a bounded-domain exact distinct inside
    * the agg. No global window, no second pass. */
  def sessionFeatures(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapS = 1800L
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("value"))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts_us").isNull ||
          col("ts_us") - col("prev_ts_us") > gapS * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .withColumn("gap_us",
        when(col("new_session") === 1L, lit(null).cast("long"))
          .otherwise(col("ts_us") - col("prev_ts_us")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        count_distinct(col("event_type")).as("n_types"),
        sum(floor(col("value") * lit(1000000.0)).cast("decimal(38,0)"))
          .cast("long").as("value_u"),
        max(col("gap_us")).as("max_gap_us"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_us"), col("duration_us"), col("n_types"),
        col("value_u"),
        coalesce(col("max_gap_us"), lit(0L)).as("max_gap_us"),
        when(col("n_events") > 1L,
          expr("duration_us div (n_events - 1)")).otherwise(0L)
          .as("mean_gap_us"))
      .orderBy("user_id", "session_id")
  }

  /** Peak-rate (burst) audit per event type — the rate-limit /
    * capacity number an ingest SLO needs: per type, the observed
    * minutes, total events, the hottest minute (count + which minute,
    * earliest on ties), and burst = peak·minutes·1e6 / total — how
    * many times the mean rate the peak hits, in exact truncating ppm.
    *
    * Scale shape: one combine agg on the (type, minute) grid (bounded
    * by types × observed minutes), then a ≤ |types| rollup; the
    * argmax rides min(minute) over the peak rows — no window over
    * raw events. */
  def burstDetect(s: SparkSession, dir: String): DataFrame = {
    val perMin = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 60000000").as("minute"))
      .agg(count(lit(1)).as("c"))
    perMin
      .withColumn("cmax",
        max(col("c")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_minutes"),
        sum(col("c")).cast("long").as("n_events"),
        max(col("c")).as("peak_events"),
        min(when(col("c") === col("cmax"), col("minute"))).as("peak_minute"))
      .select(col("event_type"), col("n_minutes"), col("n_events"),
        col("peak_events"), col("peak_minute"),
        expr("""cast(cast(peak_events as decimal(38,0)) * n_minutes
          * 1000000 div n_events as bigint)""").as("burst_ppm"))
      .orderBy("event_type")
  }

  /** Conditional next-type entropy per source state — how predictable
    * the stream is AFTER each event type, the information-theoretic
    * summary sitting on top of q_event_transitions' raw matrix: per
    * from_type, H(next | from) = Σ (c/n)·ln(n/c) floored to nano-nats
    * per transition (the q_doc_entropy discipline — a fixed IEEE
    * double sequence from exact integer counts, engine-identical),
    * plus the modal next type. H ≈ 0 means a deterministic follow-on
    * (sessionization and next-event models are easy); H near ln(k)
    * means uniform churn.
    *
    * Scale shape: the same per-user ordered window every sequence op
    * shares, one combine agg to the bounded |types|² matrix, entropy
    * over ≤ |types| rows per state. */
  def transitionEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val counts = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("c"))
    val byFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn("n", sum(col("c")).over(byFrom).cast("long"))
      .withColumn("cmax", max(col("c")).over(byFrom))
      .withColumn("contrib_nano",
        floor((col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")) *
          lit(1000000000.0)).cast("long"))
      .groupBy(col("from_type"))
      .agg(max(col("n")).as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        sum(col("contrib_nano")).cast("long").as("entropy_nano"),
        min(when(col("c") === col("cmax"), col("to_type")))
          .as("modal_next"))
      .orderBy("from_type")
  }

  /** Inter-arrival-time profile per event type — the number that
    * sizes pollers, retry budgets, and watermark delays: gaps between
    * consecutive events of the same (user, type), summarized per type
    * with exact discrete order statistics (rank 1 + (n−1)·q div 100,
    * the q_winsorize discipline — both engines pick the SAME element,
    * no interpolated doubles) plus min/max/truncating mean. Per-user
    * gaps (not global) because the operational question is "how often
    * does ONE producer emit", and the global merge of interleaved
    * users would understate gaps by the user count.
    *
    * Scale shape: one lag window on the (user, type) key — a
    * high-cardinality grain that parallelizes — then the percentiles
    * are two-phase SELECTION order statistics ([[TwoPhaseRank
    * .orderStatistics]], r9): only the bounded (type, bucket) grid
    * moves and only the p50/p90-holding buckets sort; the gap frame
    * is never window-partitioned on the ≤ |event types| key (oracle
    * unchanged). min/max/mean ride a map-side-combined 5-row agg. */
  def interarrival(s: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"),
        col("event_id"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(wu))
      .where(col("gap_us").isNotNull)
    val pct = TwoPhaseRank.orderStatistics(gaps, Seq("event_type"),
      "gap_us", Seq(col("user_id"), col("event_id")),
      Seq("p50_gap_us" -> "1 + (n - 1) * 50 div 100",
        "p90_gap_us" -> "1 + (n - 1) * 90 div 100"))
      .select(col("event_type"), col("p50_gap_us"), col("p90_gap_us"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        expr("cast(sum(cast(gap_us as decimal(38,0))) div count(1) as bigint)")
          .as("mean_gap_us"))
      .join(broadcast(pct), "event_type")
      .select(col("event_type"), col("n_gaps"), col("min_gap_us"),
        col("max_gap_us"), col("mean_gap_us"), col("p50_gap_us"),
        col("p90_gap_us"))
      .orderBy("event_type")
  }

  /** Whale-concentration audit per event type — how much of the
    * value mass the top-20 users carry (and the single heaviest
    * user): the revenue-concentration / abuse-detection number that
    * decides whether a per-user cap or a dedicated shard is needed.
    * Value mass in exact micro-units; shares as truncating ppm.
    *
    * Scale shape: one (type, user) combine agg collapses events to
    * per-user masses; ONE type exchange then carries the total
    * window, the rank window, and the rollup. The rank ≤ 20 filter
    * plans as WindowGroupLimit (per-partition top-k pruning before
    * the full sort materializes) — the user frame is never globally
    * sorted. */
  def whaleShare(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ranked = Window.partitionBy(col("event_type"))
      .orderBy(col("mass_u").desc, col("user_id"))
    events(s, dir)
      .select(col("event_type"), col("user_id"),
        expr("cast(floor(value * cast(1000000 as double)) as bigint)")
          .as("vu"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("vu").cast("decimal(38,0)")).cast("long").as("mass_u"))
      .withColumn("total_u", sum(col("mass_u")).over(byType).cast("long"))
      .withColumn("n_users", count(lit(1)).over(byType))
      .withColumn("rk", row_number().over(ranked))
      .where(col("rk") <= 20)
      .groupBy(col("event_type"))
      .agg(max(col("n_users")).as("n_users"),
        max(col("total_u")).as("total_u"),
        sum(col("mass_u").cast("decimal(38,0)")).cast("long")
          .as("top20_u"),
        max(when(col("rk") === 1, col("mass_u"))).as("top1_u"))
      .select(col("event_type"), col("n_users"), col("total_u"),
        col("top20_u"), col("top1_u"),
        expr("""cast(cast(top20_u as decimal(38,0)) * 1000000
          div total_u as bigint)""").as("top20_ppm"),
        expr("""cast(cast(top1_u as decimal(38,0)) * 1000000
          div total_u as bigint)""").as("top1_ppm"))
      .orderBy("event_type")
  }

  /** View→purchase conversion-lag distribution — the time-to-event
    * number a growth team reads next to q_funnel's step counts: per
    * user, the lag from the FIRST view to the first purchase at or
    * after it; summarized as a bitlength-µs histogram (log-scale
    * bands, bounded output at any corpus size) with per-band exact
    * min/max/truncating mean. A per-lag exact percentile would need
    * a GLOBAL rank over converted users — the single-partition
    * window trap; the log histogram answers the same "minutes or
    * days?" question scale-free.
    *
    * Scale shape: first-view timestamp rides ONE per-user window
    * exchange; the purchase filter + per-user lag combine reuse that
    * partitioning; the band combine is bounded (≤64 rows). */
  def conversionLag(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val lags = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("first_view_us",
        min(when(col("event_type") === "view", col("ts_us"))).over(byUser))
      .where(col("event_type") === "purchase" &&
        col("first_view_us").isNotNull &&
        col("ts_us") >= col("first_view_us"))
      .groupBy(col("user_id"))
      .agg((min(col("ts_us")) - max(col("first_view_us"))).as("lag_us"))
    lags
      .select(col("lag_us"),
        when(col("lag_us") > 0L,
          length(expr("bin(lag_us)")).cast("long")).otherwise(0L)
          .as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"),
        min(col("lag_us")).as("min_lag_us"),
        max(col("lag_us")).as("max_lag_us"),
        expr("cast(sum(cast(lag_us as decimal(38,0))) div count(1) as bigint)")
          .as("mean_lag_us"))
      .orderBy("band")
  }

  /** Error-rate SLO burn per hour — the on-call dashboard query: per
    * absolute hour bucket, total events, error events, the error
    * rate in exact ppm, and whether the hour breached a 1% (10 000
    * ppm) budget. The hour grid is bounded by the corpus time span;
    * everything is one combine agg over it — the cheapest possible
    * shape for a rate monitor, and the batch twin of what
    * StreamingWindows computes incrementally.
    *
    * Scale shape: ONE combine agg on the hour grid; rate + breach
    * are projections over grid rows. */
  def sloBurn(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(expr("ts_us div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .cast("long").as("n_errors"))
      .select(col("hour"), col("n_events"), col("n_errors"),
        expr("""cast(cast(n_errors as decimal(38,0)) * 1000000
          div n_events as bigint)""").as("error_ppm"))
      .withColumn("breach",
        when(col("error_ppm") > 10000L, 1L).otherwise(0L))
      .orderBy("hour")

  /** Population Stability Index drift per event type — the model-
    * monitoring standard beside q_ks_drift's KS statistic: events
    * split into early/late halves at the corpus time midpoint
    * ((min+max) div 2, a 1-row broadcast), values binned into
    * sign-aware bitlength bands (exact integer log2 — no data-driven
    * quantile bins to coordinate), PSI = Σ (p−q)·(ln p − ln q) over
    * bands present in BOTH halves, floored to nano-units. The ln
    * arguments are correctly-rounded doubles of integer ratios
    * (cp/n1, cq/n2 — each < 1, never an integer product that could
    * cross 2^53 at scale), so the IEEE sequence is engine-identical
    * at any corpus size. Bands present in only one half are COUNTED
    * and excluded rather than epsilon-smoothed — deterministic, and
    * the dropped-band count is itself a drift signal (a brand-new
    * value band IS drift).
    *
    * Scale shape: one combine agg to the bounded (type, band, half)
    * grid; the PSI rollup rides grid rows. */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("ts_us"),
      expr("cast(floor(value * cast(1000000 as double)) as bigint)")
        .as("vu"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2")
      .cast("long").as("mid_us"))
    val band = when(col("vu") > 0L,
        length(expr("bin(vu)")).cast("long"))
      .when(col("vu") < 0L,
        -length(expr("bin(-vu)")).cast("long"))
      .otherwise(0L)
    val grid = ev.crossJoin(broadcast(mid))
      .select(col("event_type"), band.as("band"),
        when(col("ts_us") < col("mid_us"), 1L).otherwise(0L).as("early"))
      .groupBy(col("event_type"), col("band"))
      .agg(sum(col("early")).cast("long").as("cp"),
        sum(lit(1L) - col("early")).cast("long").as("cq"))
    val byType = Window.partitionBy(col("event_type"))
    grid
      .withColumn("n1", sum(col("cp")).over(byType).cast("long"))
      .withColumn("n2", sum(col("cq")).over(byType).cast("long"))
      .withColumn("contrib_nano",
        when(col("cp") > 0L && col("cq") > 0L,
          floor((col("cp").cast("double") / col("n1").cast("double") -
            col("cq").cast("double") / col("n2").cast("double")) *
            (log(col("cp").cast("double") / col("n1").cast("double")) -
              log(col("cq").cast("double") / col("n2").cast("double"))) *
            lit(1000000000.0)).cast("long")))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_early"),
        max(col("n2")).as("n_late"),
        count(lit(1)).as("n_bands"),
        sum(when(col("contrib_nano").isNull, 1L).otherwise(0L))
          .cast("long").as("n_bands_dropped"),
        sum(coalesce(col("contrib_nano"), lit(0L))).cast("long")
          .as("psi_nano"))
      .orderBy("event_type")
  }

  /** Benford first-digit audit per event type — the forensic
    * data-quality screen for value columns: observed share of each
    * leading digit (values ≥ 1 — the integer-part digit is the
    * well-defined one) vs the Benford expectation
    * ln(1+1/d)/ln(10), both floored to exact ppm (the expectation is
    * a fixed IEEE sequence from integer literals — engine-identical).
    * Organic multiplicative data tracks Benford; injected, capped,
    * or fabricated values don't — large signed deviations are where
    * an auditor looks first. (The synthetic corpus is uniform, so it
    * deviates hard — which is itself the correct verdict.)
    *
    * Scale shape: digit extraction is a scan projection; ONE combine
    * agg to the bounded |types|×9 grid; shares ride grid windows. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    events(s, dir)
      .select(col("event_type"), col("value"))
      .where(col("value") >= 1.0)
      .select(col("event_type"),
        expr("""cast(substring(cast(cast(floor(value) as bigint) as string),
          1, 1) as bigint)""").as("digit"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_type", sum(col("n")).over(byType).cast("long"))
      .select(col("event_type"), col("digit"), col("n"),
        expr("""cast(cast(n as decimal(38,0)) * 1000000
          div n_type as bigint)""").as("obs_ppm"),
        floor(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * lit(1000000.0)).cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("benford_ppm"))
      .orderBy("event_type", "digit")
  }

  /** DAU / rolling-7-day WAU / stickiness per day — the product-
    * analytics headline triple. Activity collapses to the distinct
    * (user, day) frame first (one combine shuffle — the frame is
    * bounded by users × active days, never raw events); each activity
    * day then contributes to the 7 WAU windows it falls in via a
    * scan-side `sequence` explode (fixed 7× fanout on the already-
    * collapsed frame, clipped to the observed day span so no phantom
    * trailing days appear), and a second distinct collapse yields WAU.
    * Stickiness = DAU·1e6 div WAU in truncating ppm. The alternative —
    * COUNT(DISTINCT) OVER a RANGE frame — doesn't exist in either
    * engine and the self-join form fans out the same 7×; this shape
    * keeps both distincts two-phase and map-side-combined.
    *
    * Scale shape: two distinct combines on (user, day)-sized frames +
    * one grid-sized broadcast join; fanout is the fixed window/stride
    * ratio, independent of corpus size. */
  def dauStickiness(s: SparkSession, dir: String): DataFrame = {
    val acts = events(s, dir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val span = acts.agg(max(col("day")).cast("long").as("max_day"))
    val dau = acts.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("dau"))
    val wau = acts.crossJoin(broadcast(span))
      .select(col("user_id"),
        explode(expr("sequence(day, least(day + 6, max_day))")).as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("""cast(cast(dau as decimal(38,0)) * 1000000
          div wau as bigint)""").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** Stationary distribution of the event-type Markov chain — where
    * the traffic settles if the observed per-user transition dynamics
    * run forever: the q_event_transitions matrix driven through 4
    * power iterations entirely in integer mass units (1e12 total),
    * per-step contribution = mass_from · cnt(from→to) div out(from)
    * (wide-cast truncating — deterministic at any scale, no floating
    * accumulation to order across executors); types with no outgoing
    * transitions retain their mass (self-loop convention), truncation
    * remainders are dropped identically in both engines. The matrix
    * and every mass vector are ≤ |types|² / |types| rows, so all four
    * iterations are bounded-grid broadcast joins; the only data-scaled
    * work is the one per-user ordered window deriving transitions —
    * run ONCE and pinned (checkpoint) so the no-CSE re-execution of a
    * frame referenced by every iteration can't re-scan the corpus
    * 4×; the iteration joins broadcast the pinned grid.
    *
    * Scale shape: one per-user sort window + one combine to the
    * |types|² grid (pinned); iterations touch only grid frames. */
  def markovStationary(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val trans = Tables.pin(events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(byUser))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("cnt")))
    val out = trans.groupBy(col("from_type"))
      .agg(sum(col("cnt")).cast("long").as("out_n"))
    val types = trans.select(col("from_type").as("event_type"))
      .union(trans.select(col("to_type")))
      .distinct()
    val nTypes = types.agg(count(lit(1)).cast("long").as("n_types"))
    val mass0 = types.crossJoin(broadcast(nTypes))
      .select(col("event_type"),
        expr("cast(1000000000000 div n_types as bigint)").as("mass"))
    val transOut = broadcast(trans.join(out, "from_type"))
    // Pin each mass vector (≤ |types| rows): every iteration references
    // the previous vector TWICE (flow + kept) and the final select
    // references mass0 again — with no CSE the unpinned fold doubled
    // the subplan per level (2⁴ copies: the r15-measured plan was 4401
    // lines / 216 exchanges for ~10 rows of state), so planning and
    // codegen dwarfed the data work. Each pin is a trivial job over a
    // grid-bounded frame; the plan is now linear in iterations.
    val mass0p = Tables.pin(mass0)
    val stepped = (1 to 4).foldLeft(mass0p) { (m, _) =>
      val flow = m.join(transOut, m("event_type") === transOut("from_type"))
        .groupBy(col("to_type").as("event_type"))
        .agg(sum(expr("""cast(cast(mass as decimal(38,0)) * cnt
          div out_n as bigint)""")).cast("long").as("inflow"))
      val kept = m.join(broadcast(out),
          m("event_type") === out("from_type"), "left_anti")
        .select(col("event_type"), col("mass").as("inflow"))
      Tables.pin(flow.union(kept)
        .groupBy(col("event_type"))
        .agg(sum(col("inflow")).cast("long").as("mass")))
    }
    mass0p.select(col("event_type"), col("mass").as("mass_init"))
      .join(stepped.select(col("event_type"), col("mass").as("mass_4")),
        Seq("event_type"), "left")
      .select(col("event_type"), col("mass_init"),
        coalesce(col("mass_4"), lit(0L)).as("mass_4"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast residuals — the cheapest anomaly
    * baseline that respects daily seasonality: the first 21 days are
    * the training window, the remainder the test window; expected
    * test count per (type, hour-of-day) cell = train count scaled by
    * the test/train day ratio in truncating integers, compared to the
    * actual. The residual ratio (actual·1e6 div expected) is the
    * "this Tuesday 3 pm is 4× normal" number an on-call dashboard
    * wants — q_burst_detect finds point bursts, this finds whole
    * cells off their seasonal profile. The split day derives from a
    * 1-row min-day anchor so the query replays identically on a
    * frozen snapshot.
    *
    * Scale shape: anchor broadcast + ONE combine agg to the bounded
    * (type, hour-of-day) grid carrying both halves as conditional
    * sums; everything after is grid projections. */
  def seasonalBaseline(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      expr("ts_us div 86400000000").as("day"),
      expr("(ts_us div 3600000000) % 24").as("hod"))
    val span = ev.agg(min(col("day")).cast("long").as("min_day"),
      max(col("day")).cast("long").as("max_day"))
    ev.crossJoin(broadcast(span))
      .select(col("event_type"), col("hod"),
        when(col("day") < col("min_day") + 21L, 1L).otherwise(0L)
          .as("is_train"),
        (col("max_day") - col("min_day") + 1L - 21L).as("test_days"))
      .groupBy(col("event_type"), col("hod"))
      .agg(sum(col("is_train")).cast("long").as("n_train"),
        sum(lit(1L) - col("is_train")).cast("long").as("n_test"),
        max(col("test_days")).as("test_days"))
      .select(col("event_type"), col("hod"), col("n_train"), col("n_test"),
        expr("""cast(cast(n_train as decimal(38,0)) * test_days
          div 21 as bigint)""").as("expected_test"))
      .withColumn("resid", col("n_test") - col("expected_test"))
      .withColumn("ratio_ppm",
        expr("""cast(cast(n_test as decimal(38,0)) * 1000000
          div greatest(expected_test, 1) as bigint)"""))
      .orderBy("event_type", "hod")
  }

  /** Time-constrained funnel — q_funnel with the per-step conversion
    * window real product analytics ships: a click only converts if it
    * lands within 24 h of the user's first view, a purchase within
    * 24 h of that click. Unwindowed funnels overcount (a purchase
    * months later is not attributable); the windowed counts and mean
    * step lags are the numbers a growth dashboard actually reports.
    * Lags are exact µs integers with truncating integer means.
    *
    * Scale shape: identical to q_funnel — three per-user combine
    * aggs chained by user-keyed joins (each right side one row per
    * user), the window predicates are join filters; one final 1-row
    * reduce. */
  def funnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id")
      .where(col("ts_us") >= col("t_view") &&
        col("ts_us") < col("t_view") + dayUs)
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_click"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id")
      .where(col("ts_us") >= col("t_click") &&
        col("ts_us") < col("t_click") + dayUs)
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t_purchase"),
        max(col("t_click")).as("t_click_p"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click_24h"),
        count(col("t_purchase")).as("n_purchase_24h"),
        coalesce(sum((col("t_click") - col("t_view")).cast("decimal(38,0)"))
          .cast("long"), lit(0L)).as("click_lag_sum"),
        coalesce(sum((col("t_purchase") - col("t_click_p"))
          .cast("decimal(38,0)")).cast("long"), lit(0L))
          .as("purchase_lag_sum"))
      .select(col("n_view"), col("n_click_24h"), col("n_purchase_24h"),
        expr("1000000 * cast(n_click_24h as decimal(38,0)) div n_view")
          .cast("long").as("click_ppm"),
        expr("1000000 * cast(n_purchase_24h as decimal(38,0)) div n_view")
          .cast("long").as("purchase_ppm"),
        expr("click_lag_sum div greatest(n_click_24h, 1)")
          .as("mean_click_lag_us"),
        expr("purchase_lag_sum div greatest(n_purchase_24h, 1)")
          .as("mean_purchase_lag_us"))
  }

  /** Activation time — per signed-up user, the time from signup to
    * their 10th event counting the signup itself, i.e. signup plus 9
    * subsequent events (the "aha moment" metric growth teams
    * optimize): exact µs lags bucketed in bitlength bands, with
    * a band −1 row counting signed-up users who never reached 10
    * events (the not-yet-activated cohort a plain histogram would
    * silently drop). One per-user rank window (events at/after
    * signup, ordered ts then event_id) + one combine to the bounded
    * band grid.
    *
    * Scale shape: per-user sorts parallelize across users; the rank
    * ≤ 10 filter plans as WindowGroupLimit; the histogram grid is
    * ≤ 64 bands. */
  def activationTime(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
    val signup = e.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t0"))
    val rankW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val tenth = e.join(signup, "user_id")
      .where(col("ts_us") >= col("t0"))
      .withColumn("rn", row_number().over(rankW))
      .where(col("rn") === 10)
      .select(col("user_id"), (col("ts_us") - col("t0")).as("act_us"))
    signup.join(tenth, Seq("user_id"), "left")
      .select(when(col("act_us").isNull, lit(-1L))
        .when(col("act_us") > 0L,
          length(expr("bin(act_us)")).cast("long")).otherwise(0L)
        .as("band"), col("act_us"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        coalesce(min(col("act_us")), lit(-1L)).as("min_act_us"),
        coalesce(max(col("act_us")), lit(-1L)).as("max_act_us"),
        coalesce(expr("""cast(sum(cast(act_us as decimal(38,0)))
          div greatest(count(act_us), 1) as bigint)"""), lit(-1L))
          .as("mean_act_us"))
      .orderBy("band")
  }

  /** Churn by signup cohort — per signup day, how many users' LAST
    * event is more than 7 days before the corpus end (churned), the
    * churn rate in ppm, and the truncating-mean observed lifetime in
    * days. The corpus max day is a 1-row anchor so the cut is
    * replayable; lifetime = last day − signup day, exact integers.
    * Reads beside q_retention_cohort's activity matrix as the single
    * number per cohort.
    *
    * Scale shape: two per-user combines (signup day, last day) joined
    * on user_id (right side one row per user) + ONE combine to the
    * cohort-day grid; the anchor is a broadcast. */
  def churnCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val signup = e.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr("min(ts_us) div 86400000000").as("cohort_day"))
    val last = e.groupBy(col("user_id"))
      .agg(expr("max(ts_us) div 86400000000").as("last_day"))
    val anchor = e.agg(expr("max(ts_us) div 86400000000")
      .cast("long").as("max_day"))
    signup.join(last, "user_id")
      .crossJoin(broadcast(anchor))
      .select(col("cohort_day"),
        when(col("last_day") < col("max_day") - 7L, 1L).otherwise(0L)
          .as("churned"),
        (col("last_day") - col("cohort_day")).as("lifetime_days"))
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("churned")).cast("long").as("n_churned"),
        expr("""cast(cast(sum(churned) as decimal(38,0)) * 1000000
          div count(1) as bigint)""").as("churn_ppm"),
        expr("""cast(sum(cast(lifetime_days as decimal(38,0)))
          div count(1) as bigint)""").as("mean_lifetime_days"))
      .orderBy("cohort_day")
  }

  /** Semi-structured schema inference over the props payload — the
    * profiling pass a pipeline runs before promoting raw JSON to
    * typed columns: per discovered KEY (not a fixed path list —
    * unlike q_json_extract, keys are found dynamically), occurrence
    * coverage and a type census (integer / boolean / string via
    * char-class-only regex, identical in Java regex and RE2) with a
    * deterministic verdict. The driver's props are uniformly
    * {"k": int}, so the query plants three deterministic variant
    * shapes by event_id mod 4 (extra string tag, boolean flag, a
    * string-typed object) — the q_pii_redact planted-data pattern:
    * discovery, extraction, and inference are genuinely exercised,
    * and real-world key variety folds in on top.
    *
    * Scale shape: parse + plant are scan-side projections; the
    * explode fans out by keys-per-object (bounded by schema width,
    * not corpus); ONE combine to the |keys| grid; the 1-row total is
    * a broadcast. */
  def propsSchema(s: SparkSession, dir: String): DataFrame = {
    val planted = events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .select(col("event_id"),
        when(col("event_id") % 4 === 1, concat(
          lit("{\"k\": "), col("kv").cast("string"),
          lit(", \"tag\": \"t"), (col("kv") % 5).cast("string"),
          lit("\"}")))
        .when(col("event_id") % 4 === 2, concat(
          lit("{\"k\": "), col("kv").cast("string"), lit(", \"flag\": "),
          when(col("kv") % 2 === 0, lit("true")).otherwise(lit("false")),
          lit("}")))
        .when(col("event_id") % 4 === 3, concat(
          lit("{\"v\": \"s"), col("kv").cast("string"), lit("\"}")))
        .otherwise(concat(lit("{\"k\": "), col("kv").cast("string"),
          lit("}"))).as("props"))
    val total = planted.agg(count(lit(1)).cast("long").as("n_events"))
    planted
      .select(explode(expr("from_json(props, 'map<string,string>')"))
        .as(Seq("key", "v")))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("v").rlike("^-?[0-9]+$"), 1L).otherwise(0L))
          .cast("long").as("n_int"),
        sum(when(col("v").isin("true", "false"), 1L).otherwise(0L))
          .cast("long").as("n_bool"))
      .withColumn("n_str", col("n_rows") - col("n_int") - col("n_bool"))
      .withColumn("inferred_type",
        when(col("n_int") === col("n_rows"), lit("int"))
          .when(col("n_bool") === col("n_rows"), lit("bool"))
          .when(col("n_int") + col("n_bool") === 0L, lit("string"))
          .otherwise(lit("mixed")))
      .crossJoin(broadcast(total))
      .withColumn("coverage_ppm",
        expr("""cast(cast(n_rows as decimal(38,0)) * 1000000
          div n_events as bigint)"""))
      .drop("n_events")
      .orderBy("key")
  }

  /** Observed-lifetime survival curve — for each day offset d, how
    * many signed-up users were still active at d days after signup
    * (last event at offset ≥ d) and the survival fraction in ppm:
    * the Kaplan-Meier-flavored read beside q_retention_cohort (which
    * counts activity ON day d — bouncy) and q_churn_cohorts (one
    * number per cohort): survival is monotone by construction, so
    * the curve's knee is where users are lost. Each user explodes to
    * their lifetime+1 offsets — fanout bounded by the corpus day
    * span, applied to the per-user frame, never raw events.
    *
    * Scale shape: two per-user combines + user join, a span-bounded
    * explode on the user frame, ONE combine to the day-offset grid;
    * n_signups is a 1-row broadcast. */
  def survivalCurve(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val signup = e.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(expr("min(ts_us) div 86400000000").as("cohort_day"))
    val last = e.groupBy(col("user_id"))
      .agg(expr("max(ts_us) div 86400000000").as("last_day"))
    val lifetimes = signup.join(last, "user_id")
      .select((col("last_day") - col("cohort_day")).as("lifetime_days"))
    val total = lifetimes.agg(count(lit(1)).cast("long").as("n_signups"))
    lifetimes
      .select(explode(expr("sequence(0, lifetime_days)")).as("day_offset"))
      .groupBy(col("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_surviving"))
      .crossJoin(broadcast(total))
      .select(col("day_offset"), col("n_surviving"),
        expr("""cast(cast(n_surviving as decimal(38,0)) * 1000000
          div n_signups as bigint)""").as("survival_ppm"))
      .orderBy("day_offset")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_survival_curve" -> survivalCurve _,
    "q_props_schema" -> propsSchema _,
    "q_activation_time" -> activationTime _,
    "q_churn_cohorts" -> churnCohorts _,
    "q_funnel_windowed" -> funnelWindowed _,
    "q_seasonal_baseline" -> seasonalBaseline _,
    "q_dau_stickiness" -> dauStickiness _,
    "q_markov_stationary" -> markovStationary _,
    "q_benford_audit" -> benfordAudit _,
    "q_psi_drift" -> psiDrift _,
    "q_conversion_lag" -> conversionLag _,
    "q_slo_burn" -> sloBurn _,
    "q_whale_share" -> whaleShare _,
    "q_interarrival" -> interarrival _,
    "q_transition_entropy" -> transitionEntropy _,
    "q_session_features" -> sessionFeatures _,
    "q_burst_detect" -> burstDetect _,
    "q_event_lift" -> eventLift _,
    "q_kanon_audit" -> kanonAudit _,
    "q_attribution" -> attribution _,
    "q_path_trigrams" -> pathTrigrams _,
    "q_ks_drift" -> ksDrift _,
    "q_lag_autocorr" -> lagAutocorr _,
    "q_winsorize" -> winsorize _,
    "q_mad_outliers" -> madOutliers _,
    "q_ab_test" -> abTest _,
    "q_bootstrap_ci" -> bootstrapCi _,
    "q_cusum_changepoint" -> cusumChangepoint _,
    "q_decay_counts" -> decayCounts _,
    "q_event_heatmap" -> eventHeatmap _,
    "q_late_events" -> lateEvents _,
    "q_time_weighted_avg" -> timeWeightedAvg _,
    "q_variant_extract" -> variantExtract _,
    "q_regr_per_key" -> regrPerKey _,
    "q_interval_union" -> intervalUnion _,
    "q_downsample_minmax" -> downsampleMinmax _,
    "q_event_transitions" -> eventTransitions _,
    "q_concurrent_sessions" -> concurrentSessions _,
    "q_ewma_smooth" -> ewmaSmooth _,
    "q_anomaly_zscore" -> anomalyZscore _,
    "q_rolling_stats" -> rollingStats _,
    "q_scd2_intervals" -> scd2Intervals _,
    "q_funnel" -> funnel _,
    "q_retention_cohort" -> retentionCohort _,
    "q_gap_fill" -> gapFillHourly _,
    "q_demux_window_avg" -> demuxWindowAvg _,
    "q_demux_window_agg_multi" -> demuxWindowAggMulti _,
    "q_demux_window_sliding" -> demuxWindowSliding _,
    "q_window_first_meta" -> windowFirstMeta _,
    "q_safe_cast_avg" -> safeCastAvg _,
    "q_parse_errors" -> parseErrors _,
    "q_json_extract" -> jsonExtract _,
    "q_map_pivot" -> mapPivot _,
    "q_key_synthesis" -> keySynthesis _,
    "q_event_sort" -> eventSort _,
    "q_sessionize" -> sessionize _)

  val oracles: Map[String, String] = Map(
    // Same lifetime derivation, same inclusive offset fanout, same
    // truncating ppm.
    "q_survival_curve" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |s AS (
        |  SELECT user_id, min(ts_us) // 86400000000 AS cohort_day
        |  FROM e WHERE event_type = 'signup' GROUP BY 1),
        |l AS (
        |  SELECT user_id, max(ts_us) // 86400000000 AS last_day
        |  FROM e GROUP BY 1),
        |lt AS (
        |  SELECT l.last_day - s.cohort_day AS lifetime_days
        |  FROM s JOIN l ON s.user_id = l.user_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_signups FROM lt),
        |x AS (
        |  SELECT unnest(range(0, lifetime_days + 1)) AS day_offset
        |  FROM lt)
        |SELECT day_offset, CAST(count(*) AS BIGINT) AS n_surviving,
        |       CAST(CAST(count(*) AS HUGEINT) * 1000000
        |            // (SELECT n_signups FROM tot) AS BIGINT)
        |         AS survival_ppm
        |FROM x GROUP BY day_offset ORDER BY day_offset""".stripMargin,
    // Same planted variants, same dynamic key discovery, same type
    // census regexes and verdict rule.
    "q_props_schema" ->
      """WITH base AS (
        |  SELECT event_id,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
        |  FROM events),
        |planted AS (
        |  SELECT CASE
        |    WHEN event_id % 4 = 1 THEN
        |      '{"k": ' || kv || ', "tag": "t' || (kv % 5) || '"}'
        |    WHEN event_id % 4 = 2 THEN
        |      '{"k": ' || kv || ', "flag": ' ||
        |      CASE WHEN kv % 2 = 0 THEN 'true' ELSE 'false' END || '}'
        |    WHEN event_id % 4 = 3 THEN '{"v": "s' || kv || '"}'
        |    ELSE '{"k": ' || kv || '}' END AS props
        |  FROM base),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM planted),
        |kv2 AS (
        |  SELECT props, unnest(json_keys(props::JSON)) AS key
        |  FROM planted),
        |e AS (
        |  SELECT key, json_extract_string(props, '$.' || key) AS v
        |  FROM kv2),
        |g AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |              THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |         CAST(sum(CASE WHEN v IN ('true', 'false')
        |              THEN 1 ELSE 0 END) AS BIGINT) AS n_bool
        |  FROM e GROUP BY key)
        |SELECT key, n_rows, n_int, n_bool,
        |       n_rows - n_int - n_bool AS n_str,
        |       CASE WHEN n_int = n_rows THEN 'int'
        |            WHEN n_bool = n_rows THEN 'bool'
        |            WHEN n_int + n_bool = 0 THEN 'string'
        |            ELSE 'mixed' END AS inferred_type,
        |       CAST(CAST(n_rows AS HUGEINT) * 1000000
        |            // (SELECT n_events FROM tot) AS BIGINT)
        |         AS coverage_ppm
        |FROM g ORDER BY key""".stripMargin,
    // Same signup anchor, same 10th-event rank rule, same bitlength
    // bands with the −1 not-activated row.
    "q_activation_time" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |s AS (
        |  SELECT user_id, min(ts_us) AS t0 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |r AS (
        |  SELECT e.user_id, e.ts_us, s.t0,
        |         row_number() OVER (PARTITION BY e.user_id
        |           ORDER BY e.ts_us, e.event_id) AS rn
        |  FROM e JOIN s ON e.user_id = s.user_id
        |  WHERE e.ts_us >= s.t0),
        |t AS (SELECT user_id, ts_us - t0 AS act_us FROM r WHERE rn = 10),
        |j AS (SELECT s.user_id, t.act_us
        |      FROM s LEFT JOIN t ON s.user_id = t.user_id),
        |b AS (
        |  SELECT CASE WHEN act_us IS NULL THEN -1
        |              WHEN act_us > 0 THEN CAST(length(bin(act_us)) AS BIGINT)
        |              ELSE 0 END AS band, act_us
        |  FROM j)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_users,
        |       coalesce(min(act_us), -1) AS min_act_us,
        |       coalesce(max(act_us), -1) AS max_act_us,
        |       coalesce(CAST(sum(act_us)
        |         // greatest(count(act_us), 1) AS BIGINT), -1)
        |         AS mean_act_us
        |FROM b GROUP BY band ORDER BY band""".stripMargin,
    // Same cohort/last-day combines, same 7-day cut from the 1-row
    // anchor, same truncating ppm and mean.
    "q_churn_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |s AS (
        |  SELECT user_id, min(ts_us) // 86400000000 AS cohort_day
        |  FROM e WHERE event_type = 'signup' GROUP BY 1),
        |l AS (
        |  SELECT user_id, max(ts_us) // 86400000000 AS last_day
        |  FROM e GROUP BY 1),
        |a AS (SELECT CAST(max(ts_us) // 86400000000 AS BIGINT) AS max_day
        |      FROM e),
        |j AS (
        |  SELECT s.cohort_day,
        |         CASE WHEN l.last_day < a.max_day - 7 THEN 1 ELSE 0 END
        |           AS churned,
        |         l.last_day - s.cohort_day AS lifetime_days
        |  FROM s JOIN l ON s.user_id = l.user_id CROSS JOIN a)
        |SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(churned) AS BIGINT) AS n_churned,
        |       CAST(CAST(sum(churned) AS HUGEINT) * 1000000 // count(*)
        |            AS BIGINT) AS churn_ppm,
        |       CAST(sum(lifetime_days) // count(*) AS BIGINT)
        |         AS mean_lifetime_days
        |FROM j GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    // Same first-view anchor, same 24 h windows, same truncating
    // integer means.
    "q_funnel_windowed" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |v AS (
        |  SELECT user_id, min(ts_us) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_click
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts_us >= v.t_view
        |    AND e.ts_us < v.t_view + 86400000000
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts_us) AS t_purchase,
        |         max(c.t_click) AS t_click_p
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us >= c.t_click
        |    AND e.ts_us < c.t_click + 86400000000
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_view,
        |       CAST(count(c.t_click) AS BIGINT) AS n_click_24h,
        |       CAST(count(p.t_purchase) AS BIGINT) AS n_purchase_24h,
        |       CAST(1000000 * CAST(count(c.t_click) AS HUGEINT)
        |            // count(*) AS BIGINT) AS click_ppm,
        |       CAST(1000000 * CAST(count(p.t_purchase) AS HUGEINT)
        |            // count(*) AS BIGINT) AS purchase_ppm,
        |       CAST(coalesce(sum(c.t_click - v.t_view), 0)
        |            // greatest(count(c.t_click), 1) AS BIGINT)
        |         AS mean_click_lag_us,
        |       CAST(coalesce(sum(p.t_purchase - p.t_click_p), 0)
        |            // greatest(count(p.t_purchase), 1) AS BIGINT)
        |         AS mean_purchase_lag_us
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    // Same 21-day split anchor, same grid conditional sums, same
    // truncating scaling and ratio.
    "q_seasonal_baseline" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) // 86400000000 AS day,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |sp AS (SELECT CAST(min(day) AS BIGINT) AS min_day,
        |              CAST(max(day) AS BIGINT) AS max_day FROM e),
        |g AS (
        |  SELECT event_type, hod,
        |         CAST(sum(CASE WHEN day < min_day + 21 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_train,
        |         CAST(sum(CASE WHEN day < min_day + 21 THEN 0 ELSE 1 END)
        |           AS BIGINT) AS n_test,
        |         CAST(max(max_day - min_day + 1 - 21) AS BIGINT)
        |           AS test_days
        |  FROM e, sp GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, hod, n_train, n_test,
        |         CAST(CAST(n_train AS HUGEINT) * test_days // 21 AS BIGINT)
        |           AS expected_test
        |  FROM g)
        |SELECT event_type, CAST(hod AS BIGINT) AS hod, n_train, n_test,
        |       expected_test,
        |       n_test - expected_test AS resid,
        |       CAST(CAST(n_test AS HUGEINT) * 1000000
        |            // greatest(expected_test, 1) AS BIGINT) AS ratio_ppm
        |FROM x ORDER BY event_type, hod""".stripMargin,
    // Same distinct (user, day) collapse, same clipped 7-day fanout,
    // same truncating ppm.
    "q_dau_stickiness" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |sp AS (SELECT CAST(max(day) AS BIGINT) AS max_day FROM acts),
        |dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM acts GROUP BY day),
        |wx AS (
        |  SELECT DISTINCT user_id, day FROM (
        |    SELECT user_id,
        |           unnest(range(day, least(day + 6, max_day) + 1)) AS day
        |    FROM acts, sp)),
        |wau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS wau
        |  FROM wx GROUP BY day)
        |SELECT d.day, d.dau, w.wau,
        |       CAST(CAST(d.dau AS HUGEINT) * 1000000 // w.wau AS BIGINT)
        |         AS stickiness_ppm
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin,
    // Same lead-window transitions, same integer mass units, same
    // 4 truncating power iterations with mass retention on sinks.
    "q_markov_stationary" -> {
      val step = (prev: String, cur: String) =>
        s"""$cur AS (
           |  SELECT event_type, CAST(sum(inflow) AS BIGINT) AS mass
           |  FROM (
           |    SELECT t.to_type AS event_type,
           |           CAST(CAST(m.mass AS HUGEINT) * t.cnt // o.out_n
           |                AS BIGINT) AS inflow
           |    FROM $prev m
           |    JOIN trans t ON m.event_type = t.from_type
           |    JOIN outn o ON t.from_type = o.from_type
           |    UNION ALL
           |    SELECT m.event_type, m.mass FROM $prev m
           |    WHERE m.event_type NOT IN (SELECT from_type FROM outn))
           |  GROUP BY event_type)""".stripMargin
      s"""WITH seq AS (
         |  SELECT user_id, event_type AS from_type,
         |         lead(event_type) OVER (PARTITION BY user_id
         |           ORDER BY epoch_us(ts), event_id) AS to_type
         |  FROM events),
         |trans AS (
         |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
         |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |outn AS (
         |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS out_n
         |  FROM trans GROUP BY 1),
         |types AS (
         |  SELECT from_type AS event_type FROM trans
         |  UNION SELECT to_type FROM trans),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM types),
         |m0 AS (
         |  SELECT event_type,
         |         CAST(1000000000000 // n_types AS BIGINT) AS mass
         |  FROM types, nt),
         |${step("m0", "m1")},
         |${step("m1", "m2")},
         |${step("m2", "m3")},
         |${step("m3", "m4")}
         |SELECT m0.event_type, m0.mass AS mass_init,
         |       COALESCE(m4.mass, 0) AS mass_4
         |FROM m0 LEFT JOIN m4 USING (event_type)
         |ORDER BY event_type""".stripMargin
    },
    // Same digit rule, same grid shares, same fixed-IEEE Benford
    // expectation floors.
    "q_benford_audit" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(substring(CAST(CAST(floor(value) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM events WHERE value >= 1),
        |c AS (
        |  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(sum(n) OVER (PARTITION BY event_type)
        |            AS BIGINT) AS n_type
        |  FROM c)
        |SELECT event_type, digit, n,
        |       CAST(CAST(n AS HUGEINT) * 1000000 // n_type AS BIGINT)
        |         AS obs_ppm,
        |       CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)
        |            / ln(CAST(10 AS DOUBLE)) * CAST(1000000 AS DOUBLE))
        |            AS BIGINT) AS benford_ppm,
        |       CAST(CAST(n AS HUGEINT) * 1000000 // n_type AS BIGINT)
        |         - CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE)
        |                / digit) / ln(CAST(10 AS DOUBLE))
        |                * CAST(1000000 AS DOUBLE)) AS BIGINT) AS dev_ppm
        |FROM w ORDER BY event_type, digit""".stripMargin,
    // Same midpoint split, same sign-aware bitlength bands, same
    // both-halves rule and nano-unit floors from integer-ratio lns.
    "q_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS vu
        |  FROM events),
        |mid AS (SELECT CAST((min(ts_us) + max(ts_us)) // 2 AS BIGINT)
        |          AS mid_us FROM e),
        |g AS (
        |  SELECT event_type,
        |         CASE WHEN vu > 0 THEN CAST(length(bin(vu)) AS BIGINT)
        |              WHEN vu < 0 THEN -CAST(length(bin(-vu)) AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS band,
        |         CASE WHEN ts_us < (SELECT mid_us FROM mid)
        |              THEN 1 ELSE 0 END AS early
        |  FROM e),
        |c AS (
        |  SELECT event_type, band,
        |         CAST(sum(early) AS BIGINT) AS cp,
        |         CAST(sum(1 - early) AS BIGINT) AS cq
        |  FROM g GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |         CAST(sum(cp) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n1,
        |         CAST(sum(cq) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n2
        |  FROM c),
        |k AS (
        |  SELECT event_type, n1, n2,
        |         CASE WHEN cp > 0 AND cq > 0 THEN
        |           CAST(floor((CAST(cp AS DOUBLE) / n1
        |                       - CAST(cq AS DOUBLE) / n2) *
        |                      (ln(CAST(cp AS DOUBLE) / n1)
        |                       - ln(CAST(cq AS DOUBLE) / n2)) *
        |                      1000000000.0) AS BIGINT)
        |         END AS contrib_nano
        |  FROM w)
        |SELECT event_type, max(n1) AS n_early, max(n2) AS n_late,
        |       CAST(count(*) AS BIGINT) AS n_bands,
        |       CAST(sum(CASE WHEN contrib_nano IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_bands_dropped,
        |       CAST(sum(coalesce(contrib_nano, 0)) AS BIGINT) AS psi_nano
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same first-view window, same at-or-after purchase rule, same
    // bitlength bands and truncating mean.
    "q_conversion_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |              OVER (PARTITION BY user_id) AS first_view_us
        |  FROM e),
        |lags AS (
        |  SELECT user_id,
        |         min(ts_us) - max(first_view_us) AS lag_us
        |  FROM w
        |  WHERE event_type = 'purchase' AND first_view_us IS NOT NULL
        |    AND ts_us >= first_view_us
        |  GROUP BY user_id),
        |b AS (
        |  SELECT lag_us,
        |         CASE WHEN lag_us > 0
        |              THEN CAST(length(bin(lag_us)) AS BIGINT)
        |              ELSE CAST(0 AS BIGINT) END AS band
        |  FROM lags)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_users,
        |       min(lag_us) AS min_lag_us, max(lag_us) AS max_lag_us,
        |       CAST(sum(lag_us) // count(*) AS BIGINT) AS mean_lag_us
        |FROM b GROUP BY band ORDER BY band""".stripMargin,
    // Same hour grid, same integer ppm rate and breach threshold.
    "q_slo_burn" ->
      """SELECT epoch_us(ts) // 3600000000 AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_errors,
        |       CAST(CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |                          ELSE 0 END) AS HUGEINT) * 1000000
        |            // count(*) AS BIGINT) AS error_ppm,
        |       CASE WHEN CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |                              ELSE 0 END) AS HUGEINT) * 1000000
        |                 // count(*) > 10000
        |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |         AS breach
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    // Same micro-unit masses, same (mass desc, user) rank, same
    // truncating ppm shares.
    "q_whale_share" ->
      """WITH m AS (
        |  SELECT event_type, user_id,
        |         CAST(sum(CAST(floor(value * CAST(1000000 AS DOUBLE))
        |              AS BIGINT)) AS BIGINT) AS mass_u
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |         CAST(sum(mass_u) OVER (PARTITION BY event_type)
        |              AS BIGINT) AS total_u,
        |         CAST(count(*) OVER (PARTITION BY event_type)
        |              AS BIGINT) AS n_users,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY mass_u DESC, user_id) AS rk
        |  FROM m)
        |SELECT event_type, max(n_users) AS n_users,
        |       max(total_u) AS total_u,
        |       CAST(sum(mass_u) AS BIGINT) AS top20_u,
        |       max(CASE WHEN rk = 1 THEN mass_u END) AS top1_u,
        |       CAST(CAST(sum(mass_u) AS HUGEINT) * 1000000
        |            // max(total_u) AS BIGINT) AS top20_ppm,
        |       CAST(CAST(max(CASE WHEN rk = 1 THEN mass_u END)
        |            AS HUGEINT) * 1000000 // max(total_u) AS BIGINT)
        |         AS top1_ppm
        |FROM w WHERE rk <= 20
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same (user, type) lag window, same discrete rank positions
    // (1 + (n-1)*q // 100 — integer, element-picking), truncating
    // integer mean.
    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |r AS (
        |  SELECT event_type, gap_us,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY gap_us) AS r,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_us IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |       MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
        |       CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS mean_gap_us,
        |       MAX(CASE WHEN r = 1 + (n - 1) * 50 // 100
        |                THEN gap_us END) AS p50_gap_us,
        |       MAX(CASE WHEN r = 1 + (n - 1) * 90 // 100
        |                THEN gap_us END) AS p90_gap_us
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same per-user transition window as q_event_transitions, same
    // floor-quantized nano-nat contributions (fixed IEEE ln sequence
    // from exact integers), same modal tie rule.
    "q_transition_entropy" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT event_type AS to_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id) AS from_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
        |  FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |x AS (
        |  SELECT *,
        |         CAST(sum(c) OVER (PARTITION BY from_type) AS BIGINT)
        |           AS n,
        |         max(c) OVER (PARTITION BY from_type) AS cmax
        |  FROM c),
        |k AS (
        |  SELECT *,
        |         CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |           ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) *
        |           CAST(1000000000 AS DOUBLE)) AS BIGINT) AS contrib_nano
        |  FROM x)
        |SELECT from_type,
        |       max(n) AS n_transitions,
        |       CAST(count(*) AS BIGINT) AS n_next_types,
        |       CAST(sum(contrib_nano) AS BIGINT) AS entropy_nano,
        |       min(CASE WHEN c = cmax THEN to_type END) AS modal_next
        |FROM k GROUP BY from_type ORDER BY from_type""".stripMargin,
    // Same session rule as q_sessionize, same micro-unit value mass,
    // same exact integer gap features.
    "q_session_features" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS vu
        |  FROM events),
        |l AS (
        |  SELECT *,
        |         lag(ts_us) OVER w AS prev_ts_us
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_us, event_id)),
        |f AS (
        |  SELECT *,
        |         CASE WHEN prev_ts_us IS NULL
        |                OR ts_us - prev_ts_us > 1800000000
        |              THEN 1 ELSE 0 END AS new_session,
        |         CASE WHEN prev_ts_us IS NULL
        |                OR ts_us - prev_ts_us > 1800000000
        |              THEN NULL ELSE ts_us - prev_ts_us END AS gap_us
        |  FROM l),
        |g AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts_us) AS session_start_us,
        |       max(ts_us) - min(ts_us) AS duration_us,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |       CAST(sum(CAST(vu AS HUGEINT)) AS BIGINT) AS value_u,
        |       coalesce(max(gap_us), 0) AS max_gap_us,
        |       CASE WHEN count(*) > 1
        |            THEN (max(ts_us) - min(ts_us)) // (count(*) - 1)
        |            ELSE 0 END AS mean_gap_us
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    // Same (type, minute) grid, same earliest-peak tie rule, same
    // wide-cast truncating burst ppm.
    "q_burst_detect" ->
      """WITH m AS (
        |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT *, max(c) OVER (PARTITION BY event_type) AS cmax
        |  FROM m)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_minutes,
        |       CAST(sum(c) AS BIGINT) AS n_events,
        |       max(c) AS peak_events,
        |       min(CASE WHEN c = cmax THEN minute END) AS peak_minute,
        |       CAST(CAST(max(c) AS HUGEINT) * count(*) * 1000000 //
        |            sum(c) AS BIGINT) AS burst_ppm
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same distinct basket sets, same ordered pairs, same wide-cast
    // truncating lift ratio — all integer.
    "q_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM ut),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |       AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_ab,
        |       sa.n_t AS n_a, sb.n_t AS n_b,
        |       CAST(CAST(p.n_ab AS HUGEINT) * n.n_users * 1000000 //
        |            (CAST(sa.n_t AS HUGEINT) * sb.n_t) AS BIGINT)
        |         AS lift_ppm
        |FROM p
        |JOIN s sa ON p.type_a = sa.event_type
        |JOIN s sb ON p.type_b = sb.event_type
        |CROSS JOIN n
        |ORDER BY type_a, type_b""".stripMargin,
    // Same bounded (type, hour) grid, same exact distinct-user counts,
    // same k=5 cut and truncating ppm.
    "q_kanon_audit" ->
      """WITH c AS (
        |  SELECT event_type,
        |         epoch_us(ts) // 3600000000 % 24 AS hour,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_small_cells,
        |       CAST(sum(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END)
        |         AS BIGINT) AS n_rows_at_risk,
        |       CAST(CAST(sum(CASE WHEN n_users < 5 THEN n_rows
        |             ELSE 0 END) AS HUGEINT) * 1000000 //
        |            sum(n_rows) AS BIGINT) AS risk_ppm
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Same IGNORE-NULLS navigation windows, same null exclusion,
    // same micro-unit HUGEINT revenue sums; stack ≡ UNION ALL.
    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vu
        |  FROM events),
        |t AS (
        |  SELECT *,
        |         first_value(CASE WHEN event_type <> 'purchase'
        |             THEN event_type END IGNORE NULLS) OVER w AS first_touch,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |             THEN event_type END IGNORE NULLS) OVER w AS last_touch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (
        |  SELECT * FROM t
        |  WHERE event_type = 'purchase' AND last_touch IS NOT NULL),
        |s AS (
        |  SELECT 'first' AS model, first_touch AS touch_type, vu FROM p
        |  UNION ALL
        |  SELECT 'last' AS model, last_touch AS touch_type, vu FROM p)
        |SELECT model, touch_type,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(CAST(vu AS HUGEINT)) AS BIGINT) AS revenue_u
        |FROM s GROUP BY model, touch_type
        |ORDER BY model, touch_type""".stripMargin,
    // Same per-user trigram window, same bounded-domain total and
    // truncating ppm share, same (count desc, path) tie order.
    "q_path_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT lag(event_type, 2) OVER w AS t1,
        |         lag(event_type, 1) OVER w AS t2,
        |         event_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |c AS (
        |  SELECT t1 || '>' || t2 || '>' || event_type AS path,
        |         CAST(count(*) AS BIGINT) AS n_paths
        |  FROM l WHERE t1 IS NOT NULL GROUP BY 1)
        |SELECT path, n_paths,
        |       CAST(1000000 * CAST(n_paths AS HUGEINT) //
        |            sum(n_paths) OVER () AS BIGINT) AS share_ppm
        |FROM c
        |ORDER BY n_paths DESC, path LIMIT 20""".stripMargin,
    // Same midpoint split, same RANGE-frame cumulative counts (peer
    // rows share a frame in both engines), same HUGEINT cross-products.
    "q_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vu
        |  FROM events),
        |m AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid_us FROM ev),
        |lab AS (
        |  SELECT event_type, vu,
        |         CASE WHEN ts_us <= mid_us THEN 1 ELSE 0 END AS ia,
        |         CASE WHEN ts_us <= mid_us THEN 0 ELSE 1 END AS ib
        |  FROM ev CROSS JOIN m),
        |c AS (
        |  SELECT event_type, vu,
        |         sum(ia) OVER (PARTITION BY event_type) AS na,
        |         sum(ib) OVER (PARTITION BY event_type) AS nb,
        |         sum(ia) OVER (PARTITION BY event_type ORDER BY vu) AS ca,
        |         sum(ib) OVER (PARTITION BY event_type ORDER BY vu) AS cb
        |  FROM lab),
        |d AS (
        |  SELECT event_type, vu, na, nb,
        |         abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na) AS d,
        |         max(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
        |           OVER (PARTITION BY event_type) AS dmax
        |  FROM c
        |  WHERE na > 0 AND nb > 0)
        |SELECT event_type,
        |       CAST(max(na) AS BIGINT) AS n_early,
        |       CAST(max(nb) AS BIGINT) AS n_late,
        |       CAST(max(d) * 1000000 //
        |            (CAST(max(na) AS HUGEINT) * max(nb)) AS BIGINT) AS ks_ppm,
        |       min(CASE WHEN d = dmax THEN vu END) AS ks_at_u
        |FROM d
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // Same time-ordered lags, same wide-cast power sums, same
    // truncating ppm divisions and NULL on degenerate lags.
    "q_lag_autocorr" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vu
        |  FROM events),
        |l AS (
        |  SELECT event_type, vu,
        |         lag(vu, 1) OVER w AS x1,
        |         lag(vu, 2) OVER w AS x2,
        |         lag(vu, 3) OVER w AS x3
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(x1) AS BIGINT) AS n1,
        |         sum(CAST(x1 AS HUGEINT)) AS sx1,
        |         sum(CASE WHEN x1 IS NOT NULL THEN CAST(vu AS HUGEINT) END) AS sy1,
        |         sum(CAST(x1 AS HUGEINT) * x1) AS sxx1,
        |         sum(CAST(x1 AS HUGEINT) * vu) AS sxy1,
        |         CAST(count(x2) AS BIGINT) AS n2,
        |         sum(CAST(x2 AS HUGEINT)) AS sx2,
        |         sum(CASE WHEN x2 IS NOT NULL THEN CAST(vu AS HUGEINT) END) AS sy2,
        |         sum(CAST(x2 AS HUGEINT) * x2) AS sxx2,
        |         sum(CAST(x2 AS HUGEINT) * vu) AS sxy2,
        |         CAST(count(x3) AS BIGINT) AS n3,
        |         sum(CAST(x3 AS HUGEINT)) AS sx3,
        |         sum(CASE WHEN x3 IS NOT NULL THEN CAST(vu AS HUGEINT) END) AS sy3,
        |         sum(CAST(x3 AS HUGEINT) * x3) AS sxx3,
        |         sum(CAST(x3 AS HUGEINT) * vu) AS sxy3
        |  FROM l GROUP BY event_type)
        |SELECT event_type, n_events,
        |       CAST(CASE WHEN CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 > 0
        |         THEN (CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1) * 1000000
        |              // (CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1)
        |         END AS BIGINT) AS ar1_ppm,
        |       CAST(CASE WHEN CAST(n2 AS HUGEINT) * sxx2 - sx2 * sx2 > 0
        |         THEN (CAST(n2 AS HUGEINT) * sxy2 - sx2 * sy2) * 1000000
        |              // (CAST(n2 AS HUGEINT) * sxx2 - sx2 * sx2)
        |         END AS BIGINT) AS ar2_ppm,
        |       CAST(CASE WHEN CAST(n3 AS HUGEINT) * sxx3 - sx3 * sx3 > 0
        |         THEN (CAST(n3 AS HUGEINT) * sxy3 - sx3 * sy3) * 1000000
        |              // (CAST(n3 AS HUGEINT) * sxx3 - sx3 * sx3)
        |         END AS BIGINT) AS ar3_ppm
        |FROM m ORDER BY event_type""".stripMargin,
    // Same micro-unit floors, same integer rank positions, same
    // HUGEINT sums and truncating mean divisions.
    "q_winsorize" ->
      """WITH vu AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vu
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY vu, event_id) AS BIGINT) AS rnk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM vu),
        |b AS (
        |  SELECT event_type,
        |         max(CASE WHEN rnk = 1 + (n - 1) * 5 // 100 THEN vu END) AS lo_u,
        |         max(CASE WHEN rnk = 1 + (n - 1) * 95 // 100 THEN vu END) AS hi_u
        |  FROM r GROUP BY event_type)
        |SELECT v.event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       max(b.lo_u) AS lo_u, max(b.hi_u) AS hi_u,
        |       CAST(sum(CASE WHEN v.vu < b.lo_u THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_lo_clipped,
        |       CAST(sum(CASE WHEN v.vu > b.hi_u THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hi_clipped,
        |       CAST(sum(CAST(v.vu AS HUGEINT)) // count(*) AS BIGINT)
        |         AS mean_raw_u,
        |       CAST(sum(CAST(greatest(least(v.vu, b.hi_u), b.lo_u) AS HUGEINT))
        |         // count(*) AS BIGINT) AS mean_wins_u
        |FROM vu v JOIN b ON v.event_type = b.event_type
        |GROUP BY v.event_type
        |ORDER BY v.event_type""".stripMargin,
    // Same discrete lower medians over micro-units, same 3-MAD rule.
    "q_mad_outliers" ->
      """WITH vu AS (
        |  SELECT event_type, event_id,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS vu
        |  FROM events),
        |r1 AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY vu, event_id) AS BIGINT) AS rnk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM vu),
        |med AS (
        |  SELECT event_type,
        |         max(CASE WHEN rnk = 1 + (n - 1) // 2 THEN vu END) AS med_u
        |  FROM r1 GROUP BY event_type),
        |d AS (
        |  SELECT v.event_type, v.event_id, v.vu,
        |         abs(v.vu - m.med_u) AS dev, m.med_u
        |  FROM vu v JOIN med m ON v.event_type = m.event_type),
        |r2 AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |           ORDER BY dev, event_id) AS BIGINT) AS rnk2,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (
        |  SELECT event_type,
        |         max(CASE WHEN rnk2 = 1 + (n - 1) // 2 THEN dev END) AS mad_u
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       max(d.med_u) AS median_u,
        |       max(mad.mad_u) AS mad_u,
        |       CAST(sum(CASE WHEN d.dev > 3 * mad.mad_u THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_outliers,
        |       max(d.dev) AS max_dev_u
        |FROM d JOIN mad ON d.event_type = mad.event_type
        |GROUP BY d.event_type
        |ORDER BY d.event_type""".stripMargin,
    // Same hash cohorting, same micro-unit power sums, same one-shot
    // double conversion and IEEE z sequence.
    "q_ab_test" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST('0x' || substring(sha256('exp:' ||
        |           CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
        |           AS cohort,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS yu
        |  FROM events),
        |g AS (
        |  SELECT event_type, cohort, count(*) AS n,
        |         sum(CAST(yu AS HUGEINT)) AS s1,
        |         sum(CAST(yu AS HUGEINT) * yu) AS s2
        |  FROM e GROUP BY event_type, cohort),
        |c AS (SELECT event_type, n AS n_c, s1 AS s1_c, s2 AS s2_c
        |      FROM g WHERE cohort = 0),
        |t AS (SELECT event_type, n AS n_t, s1 AS s1_t, s2 AS s2_t
        |      FROM g WHERE cohort = 1)
        |SELECT c.event_type, CAST(n_c AS BIGINT) AS n_c,
        |       CAST(n_t AS BIGINT) AS n_t,
        |       CAST(s1_c // n_c AS BIGINT) AS mean_c_u,
        |       CAST(s1_t // n_t AS BIGINT) AS mean_t_u,
        |       CAST(s1_t // n_t AS BIGINT) - CAST(s1_c // n_c AS BIGINT)
        |         AS diff_u,
        |       CAST(floor(CAST(1000.0 AS DOUBLE) * CAST(
        |           CAST(s1_t // n_t AS BIGINT) - CAST(s1_c // n_c AS BIGINT)
        |         AS DOUBLE) / sqrt(
        |           CAST(n_c * s2_c - s1_c * s1_c AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) * CAST(n_c AS DOUBLE)
        |                * CAST(n_c - 1 AS DOUBLE))
        |           + CAST(n_t * s2_t - s1_t * s1_t AS DOUBLE)
        |             / (CAST(n_t AS DOUBLE) * CAST(n_t AS DOUBLE)
        |                * CAST(n_t - 1 AS DOUBLE)))) AS BIGINT) AS z_milli
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY c.event_type""".stripMargin,
    // Same scaled-deviation prefix sums (n·yu − Σyu, HUGEINT-exact),
    // same closed-form CUSUM (P − min(0, min prefix P)), same
    // positive-maxima // n normalization — bit-exact.
    "q_cusum_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS yu
        |  FROM events),
        |st AS (
        |  SELECT user_id, count(*) AS n, sum(CAST(yu AS HUGEINT)) AS vsum
        |  FROM e GROUP BY user_id),
        |d AS (
        |  SELECT e.user_id, ts_us, event_id, n,
        |         CAST(n AS HUGEINT) * yu - vsum AS dev
        |  FROM e JOIN st USING (user_id)),
        |p AS (
        |  SELECT user_id, ts_us, event_id, n,
        |         sum(dev) OVER w AS p
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT user_id, ts_us, event_id, n,
        |         p - least(min(p) OVER w, CAST(0 AS HUGEINT)) AS s_up,
        |         greatest(max(p) OVER w, CAST(0 AS HUGEINT)) - p AS s_dn
        |  FROM p
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT user_id, ts_us, event_id, n, s_up, s_dn,
        |         max(s_up) OVER (PARTITION BY user_id) AS mx_up,
        |         CASE WHEN s_up > CAST(n AS HUGEINT) * 50000000
        |              THEN 1 ELSE 0 END AS flagi
        |  FROM s),
        |r AS (
        |  SELECT user_id, ts_us, n, s_up, s_dn, mx_up,
        |         CASE WHEN flagi = 1 AND coalesce(lag(flagi) OVER
        |             (PARTITION BY user_id ORDER BY ts_us, event_id),
        |             0) = 0
        |              THEN 1 ELSE 0 END AS run_start
        |  FROM f)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(max(s_up) // max(n) AS BIGINT) AS max_up_u,
        |       CAST(max(s_dn) // max(n) AS BIGINT) AS max_dn_u,
        |       min(CASE WHEN s_up = mx_up THEN ts_us END) AS peak_up_ts,
        |       CAST(sum(run_start) AS BIGINT) AS n_up_runs
        |FROM r GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Same frozen Poisson-pmf thresholds, same micro-unit replicate
    // means, same integer power sums and final IEEE sqrt sequence.
    "q_bootstrap_ci" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS yu
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(yu AS HUGEINT)) // count(*) AS BIGINT)
        |           AS mean_u
        |  FROM e GROUP BY event_type),
        |b AS (
        |  SELECT event_type, yu, r.range AS r,
        |         (hh * (r.range + 1) + 37 * r.range + 101)
        |           % 2147483647 % 1048576 AS u
        |  FROM (SELECT event_type, yu,
        |          CAST('0x' || substring(sha256('bs:' ||
        |            CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
        |            % 2147483647 AS hh
        |        FROM e) e2, range(0, 32) r),
        |w AS (
        |  SELECT event_type, r, yu,
        |         CASE WHEN u < 385749 THEN 0 WHEN u < 771499 THEN 1
        |              WHEN u < 964372 THEN 2 WHEN u < 1028665 THEN 3
        |              WHEN u < 1044738 THEN 4 ELSE 5 END AS w
        |  FROM b),
        |rm AS (
        |  SELECT event_type, r,
        |         CAST(sum(CAST(w AS HUGEINT) * yu)
        |              // sum(CAST(w AS HUGEINT)) AS BIGINT) AS rm
        |  FROM w GROUP BY event_type, r
        |  HAVING sum(w) > 0),
        |a AS (
        |  SELECT event_type, count(*) AS n_reps,
        |         sum(CAST(rm AS HUGEINT)) AS s1,
        |         sum(CAST(rm AS HUGEINT) * rm) AS s2
        |  FROM rm GROUP BY event_type)
        |SELECT a.event_type, x.mean_u, CAST(a.n_reps AS BIGINT) AS n_reps,
        |       CAST(a.s1 // a.n_reps AS BIGINT) AS boot_mean_u,
        |       CAST(floor(sqrt(
        |         CAST(a.n_reps * a.s2 - a.s1 * a.s1 AS DOUBLE)
        |         / CAST(a.n_reps * (a.n_reps - 1) AS DOUBLE)))
        |         AS BIGINT) AS boot_sd_u,
        |       CAST(a.s1 // a.n_reps AS BIGINT)
        |         - 2 * CAST(floor(sqrt(
        |             CAST(a.n_reps * a.s2 - a.s1 * a.s1 AS DOUBLE)
        |             / CAST(a.n_reps * (a.n_reps - 1) AS DOUBLE)))
        |             AS BIGINT) AS ci_lo_u,
        |       CAST(a.s1 // a.n_reps AS BIGINT)
        |         + 2 * CAST(floor(sqrt(
        |             CAST(a.n_reps * a.s2 - a.s1 * a.s1 AS DOUBLE)
        |             / CAST(a.n_reps * (a.n_reps - 1) AS DOUBLE)))
        |             AS BIGINT) AS ci_hi_u
        |FROM a JOIN x ON a.event_type = x.event_type
        |ORDER BY a.event_type""".stripMargin,
    // Same hour-bucket ages, same hard 40 h horizon, same dyadic
    // 2^(40−k) weights and HUGEINT sums, one // 2^40 normalization —
    // bit-exact.
    "q_decay_counts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS yu
        |  FROM events),
        |nw AS (SELECT max(h) AS hnow FROM e),
        |k AS (
        |  SELECT user_id, yu,
        |         CASE WHEN hnow - h <= 40 THEN
        |           CAST(1 AS BIGINT) << CAST(40 - (hnow - h) AS INTEGER)
        |         ELSE 0 END AS w2
        |  FROM e, nw),
        |a AS (
        |  SELECT user_id, count(*) AS n_events,
        |         sum(CAST(w2 AS HUGEINT)) AS wsum,
        |         sum(CAST(w2 AS HUGEINT) * yu) AS wvsum
        |  FROM k GROUP BY user_id)
        |SELECT user_id, n_events,
        |       CAST((wsum * 1000) // 1099511627776 AS BIGINT)
        |         AS decayed_n_milli,
        |       CAST(wvsum // 1099511627776 AS BIGINT) AS decayed_sum_u
        |FROM a ORDER BY user_id""".stripMargin,
    // Same grid collapse, same exact c·N·1e6 // (rs·cs) lift.
    "q_event_heatmap" ->
      """WITH g AS (
        |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, hr, c,
        |         sum(c) OVER (PARTITION BY event_type) AS rs,
        |         sum(c) OVER (PARTITION BY hr) AS cs,
        |         sum(c) OVER () AS nn
        |  FROM g)
        |SELECT event_type, hr, c,
        |       CAST((CAST(c AS HUGEINT) * nn * 1000000) // (rs * cs)
        |         AS BIGINT) AS lift_ppm
        |FROM m ORDER BY event_type, hr""".stripMargin,
    // Same hash jitter; the oracle's single global strictly-preceding
    // window max equals the Spark side's two-phase (minute offset +
    // within-minute) prefix max — minute order refines arrival order.
    "q_late_events" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) + CAST('0x' || substring(sha256(
        |           'late:' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
        |           % 30000000 AS arr_us
        |  FROM events),
        |p AS (
        |  SELECT event_type, ts_us,
        |         coalesce(max(ts_us) OVER (ORDER BY arr_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           ts_us) AS wm
        |  FROM e),
        |a AS (
        |  SELECT event_type, count(*) AS n_events,
        |         sum(CASE WHEN ts_us < wm - 1000000 THEN 1 ELSE 0 END)
        |           AS n_late_1s,
        |         sum(CASE WHEN ts_us < wm - 5000000 THEN 1 ELSE 0 END)
        |           AS n_late_5s,
        |         sum(CASE WHEN ts_us < wm - 15000000 THEN 1 ELSE 0 END)
        |           AS n_late_15s,
        |         max(greatest(wm - ts_us, 0)) AS max_disorder_us
        |  FROM p GROUP BY event_type)
        |SELECT event_type, n_events,
        |       CAST(n_late_1s AS BIGINT) AS n_late_1s,
        |       CAST(1000000 * CAST(n_late_1s AS HUGEINT) // n_events
        |         AS BIGINT) AS late_ppm_1s,
        |       CAST(n_late_5s AS BIGINT) AS n_late_5s,
        |       CAST(1000000 * CAST(n_late_5s AS HUGEINT) // n_events
        |         AS BIGINT) AS late_ppm_5s,
        |       CAST(n_late_15s AS BIGINT) AS n_late_15s,
        |       CAST(1000000 * CAST(n_late_15s AS HUGEINT) // n_events
        |         AS BIGINT) AS late_ppm_15s,
        |       max_disorder_us
        |FROM a ORDER BY event_type""".stripMargin,
    // Same step-interpolated left-Riemann weights, same micro-unit
    // floors, same DECIMAL/HUGEINT sums and truncating divisions.
    "q_time_weighted_avg" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS yu
        |  FROM events),
        |l AS (
        |  SELECT user_id, ts_us, yu,
        |         lead(ts_us) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id) AS next_ts
        |  FROM ev),
        |a AS (
        |  SELECT user_id, count(*) AS n_events,
        |         max(ts_us) - min(ts_us) AS span_us,
        |         sum(CASE WHEN next_ts IS NOT NULL
        |             THEN CAST(next_ts - ts_us AS HUGEINT) * yu
        |             ELSE CAST(0 AS HUGEINT) END) AS wsum,
        |         CAST(sum(yu) AS HUGEINT) AS vsum
        |  FROM l GROUP BY user_id)
        |SELECT user_id, n_events, span_us,
        |       CAST(wsum // span_us AS BIGINT) AS twa_micro,
        |       CAST(vsum // n_events AS BIGINT) AS mean_micro
        |FROM a WHERE span_us > 0
        |ORDER BY user_id""".stripMargin,
    "q_variant_extract" ->
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(json_extract_string(props, '$.missing') AS BIGINT)
        |         AS missing_path,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) * 2
        |         AS k_doubled
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0
        |ORDER BY event_id""".stripMargin,
    "q_regr_per_key" ->
      """WITH e AS (
        |  SELECT user_id,
        |         (epoch_us(ts) - min(epoch_us(ts)) OVER (
        |           PARTITION BY user_id)) // 1000000 AS x,
        |         CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |           AS yu
        |  FROM events),
        |m AS (
        |  SELECT user_id, count(*) AS n,
        |         sum(x) AS sx, sum(x * x) AS sxx,
        |         sum(yu) AS syu, sum(x * yu) AS sxyu
        |  FROM e GROUP BY user_id),
        |r AS (
        |  SELECT user_id, n, sx, syu,
        |         n * sxyu - sx * syu AS num,
        |         n * sxx - sx * sx AS den
        |  FROM m WHERE n * sxx - sx * sx > 0)
        |SELECT user_id, n AS n_events,
        |       CAST(num * 1000 // den AS BIGINT) AS slope_nano,
        |       CAST((syu * den - num * sx) * 1000 // (n * den) AS BIGINT)
        |         AS intercept_nano
        |FROM r ORDER BY user_id""".stripMargin,
    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) + 300 * 1000000 AS end_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, ts_us, end_us,
        |         CASE WHEN ts_us > coalesce(max(end_us) OVER (
        |                PARTITION BY user_id ORDER BY ts_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              -9223372036854775808)
        |              THEN 1 ELSE 0 END AS new_island
        |  FROM e),
        |isl AS (
        |  SELECT user_id, ts_us, end_us,
        |         CAST(sum(new_island) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island,
        |         min(ts_us) AS island_start_us, max(end_us) AS island_end_us
        |  FROM isl GROUP BY user_id, island),
        |u AS (
        |  SELECT user_id, count(*) AS n_islands,
        |         CAST(sum(island_end_us - island_start_us) AS BIGINT)
        |           AS covered_us,
        |         max(island_end_us) - min(island_start_us) AS span_us
        |  FROM g GROUP BY user_id)
        |SELECT user_id, n_islands, covered_us, span_us,
        |       CAST(1000000 * CAST(covered_us AS HUGEINT) // span_us AS BIGINT) AS coverage_ppm
        |FROM u ORDER BY user_id""".stripMargin,
    "q_downsample_minmax" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         epoch_us(ts) // 3600000000 AS bucket_hr
        |  FROM events),
        |mins AS (
        |  SELECT user_id, bucket_hr, 'min' AS kind, event_id, value FROM e
        |  QUALIFY row_number() OVER (PARTITION BY user_id, bucket_hr
        |    ORDER BY value, event_id) = 1),
        |maxs AS (
        |  SELECT user_id, bucket_hr, 'max' AS kind, event_id, value FROM e
        |  QUALIFY row_number() OVER (PARTITION BY user_id, bucket_hr
        |    ORDER BY value DESC, event_id) = 1)
        |SELECT * FROM (SELECT * FROM mins UNION ALL SELECT * FROM maxs)
        |ORDER BY user_id, bucket_hr, kind, event_id""".stripMargin,
    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, event_type AS to_type, count(*) AS cnt
        |  FROM seq WHERE from_type IS NOT NULL
        |  GROUP BY from_type, event_type),
        |t AS (
        |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS src_total
        |  FROM c GROUP BY from_type)
        |SELECT from_type, to_type, cnt, src_total,
        |       CAST(1000000 * CAST(cnt AS HUGEINT) // src_total AS BIGINT) AS prob_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_concurrent_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |m AS (
        |  SELECT user_id, ts_us,
        |         CASE WHEN lag(ts_us) OVER w IS NULL
        |                OR ts_us - lag(ts_us) OVER w > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_session,
        |         event_id
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS session_id,
        |         ts_us
        |  FROM m),
        |spans AS (
        |  SELECT user_id, session_id,
        |         min(ts_us) // 60000000 AS sm, max(ts_us) // 60000000 AS em
        |  FROM sess GROUP BY user_id, session_id),
        |buckets AS (
        |  SELECT unnest(range(sm, em + 1)) AS bucket_min FROM spans)
        |SELECT bucket_min, count(*) AS n_active
        |FROM buckets GROUP BY bucket_min ORDER BY bucket_min""".stripMargin,
    "q_ewma_smooth" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        |l AS (
        |  SELECT user_id, ts_us, event_id, value,
        |         row_number() OVER w AS rn,
        |         CAST(lag(value, 0) OVER w AS DECIMAL(18,6)) * 128
        |       + CAST(lag(value, 1) OVER w AS DECIMAL(18,6)) * 64
        |       + CAST(lag(value, 2) OVER w AS DECIMAL(18,6)) * 32
        |       + CAST(lag(value, 3) OVER w AS DECIMAL(18,6)) * 16
        |       + CAST(lag(value, 4) OVER w AS DECIMAL(18,6)) * 8
        |       + CAST(lag(value, 5) OVER w AS DECIMAL(18,6)) * 4
        |       + CAST(lag(value, 6) OVER w AS DECIMAL(18,6)) * 2
        |       + CAST(lag(value, 7) OVER w AS DECIMAL(18,6)) * 1 AS wsum
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, ts_us, event_id, value,
        |       CAST(CAST(wsum * 1000000 AS BIGINT) // 255 AS BIGINT) AS ewma_u
        |FROM l WHERE rn >= 8
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |st AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(value AS DECIMAL(28,8))
        |                  * CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sxx
        |  FROM e GROUP BY user_id),
        |z AS (
        |  SELECT e.user_id, event_id, ts_us, value,
        |         (value - sx / n)
        |           / sqrt((sxx - sx * sx / n) / (n - 1)) AS z
        |  FROM e JOIN st ON e.user_id = st.user_id
        |  WHERE sqrt((sxx - sx * sx / n) / (n - 1)) > 0)
        |SELECT user_id, event_id, ts_us, value, round(z, 6) AS z
        |FROM z WHERE abs(z) > 3
        |ORDER BY user_id, event_id""".stripMargin,
    "q_rolling_stats" ->
      """SELECT user_id, ts_us, event_id,
        |       CAST(count(*) OVER w AS BIGINT) AS n_frame,
        |       quantile_disc(value, 0.5) OVER w AS roll_med,
        |       min(value) OVER w AS roll_min,
        |       max(value) OVER w AS roll_max,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |             / CAST(count(*) OVER w AS DOUBLE), 6) AS roll_avg
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_id, event_type,
        |         CASE WHEN lag(event_type) OVER w IS NULL
        |                OR lag(event_type) OVER w <> event_type
        |              THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |seg AS (
        |  SELECT user_id, ts_us, event_type,
        |         CAST(sum(chg) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
        |  FROM m),
        |g AS (
        |  SELECT user_id, seg, event_type,
        |         min(ts_us) AS valid_from_us, count(*) AS n_events
        |  FROM seg GROUP BY user_id, seg, event_type)
        |SELECT user_id, seg AS seg_no, event_type, valid_from_us,
        |       coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY seg), -1) AS valid_to_us,
        |       n_events,
        |       coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
        |         ORDER BY seg), -1) = -1 AS is_current
        |FROM g ORDER BY user_id, seg_no""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |v AS (SELECT user_id, min(ts_us) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts_us >= v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts_us >= c.t_click
        |      GROUP BY e.user_id),
        |agg AS (
        |  SELECT count(*) AS n_view, count(c.t_click) AS n_click,
        |         count(p.t_purchase) AS n_purchase
        |  FROM v LEFT JOIN c ON v.user_id = c.user_id
        |         LEFT JOIN p ON v.user_id = p.user_id)
        |SELECT n_view, n_click, n_purchase,
        |       CAST(1000000 * CAST(n_click AS HUGEINT) // n_view AS BIGINT) AS click_ppm,
        |       CAST(1000000 * CAST(n_purchase AS HUGEINT) // n_view AS BIGINT) AS purchase_ppm
        |FROM agg""".stripMargin,
    "q_retention_cohort" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |cohorts AS (SELECT user_id, min(ts_us) // 86400000000 AS cohort_day
        |            FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM e)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |       count(DISTINCT a.user_id) AS n_active
        |FROM active a JOIN cohorts c ON a.user_id = c.user_id
        |WHERE a.day - c.cohort_day BETWEEN 0 AND 13
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |         FROM hourly GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour
        |          FROM span)
        |SELECT s.user_id, s.hour,
        |       coalesce(h.n_events, 0) AS n_events,
        |       round(last_value(round(h.sum_value / h.n_events, 6) IGNORE NULLS)
        |             OVER (PARTITION BY s.user_id ORDER BY s.hour
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS run_avg
        |FROM spine s LEFT JOIN hourly h USING (user_id, hour)
        |ORDER BY user_id, hour""".stripMargin,
    "q_demux_window_avg" ->
      """SELECT user_id, epoch_us(ts) // 1000000 AS win_start_s,
        |       round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_demux_window_agg_multi" ->
      """SELECT user_id, epoch_us(ts) // 1000000 AS win_start_s,
        |       round(avg(value), 6) AS avg_value,
        |       min(value) AS min_value, max(value) AS max_value,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_demux_window_sliding" ->
      """SELECT user_id, ws * 1000000 AS win_start_us,
        |       round(avg(value), 6) AS avg_value, count(*) AS n_events
        |FROM (SELECT user_id, value,
        |             unnest([epoch_us(ts) // 1000000 - 1,
        |                     epoch_us(ts) // 1000000]) AS ws
        |      FROM events)
        |GROUP BY user_id, ws ORDER BY user_id, win_start_us""".stripMargin,
    "q_window_first_meta" ->
      """SELECT user_id, epoch_us(ts) // 1000000 AS win_start_s,
        |       event_id AS first_event_id, event_type AS first_event_type,
        |       epoch_us(ts) AS first_ts_us, round(value, 6) AS first_value
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, epoch_us(ts) // 1000000
        |  ORDER BY epoch_us(ts), event_id) = 1
        |ORDER BY user_id, win_start_s""".stripMargin,
    "q_safe_cast_avg" ->
      """SELECT event_type,
        |       round(avg(k), 6) AS avg_k,
        |       CAST(sum(CAST(k AS DECIMAL(18,6))) AS DOUBLE) AS sum_k,
        |       count(*) AS n
        |FROM (SELECT event_type,
        |             coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_parse_errors" ->
      """SELECT event_type, count(*) AS n_total, count(k) AS n_parsed,
        |       count(*) - count(k) AS n_errors
        |FROM (SELECT event_type,
        |             TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "q_map_pivot" ->
      """SELECT event_id, u.name AS name, u.val AS val
        |FROM events,
        |     unnest([{'name': 'type', 'val': event_type},
        |             {'name': 'user', 'val': CAST(user_id AS VARCHAR)}]) AS t(u)
        |ORDER BY event_id, name""".stripMargin,
    "q_key_synthesis" ->
      """SELECT event_id,
        |       concat_ws(':', CAST(user_id AS VARCHAR), event_type) AS key
        |FROM events ORDER BY event_id""".stripMargin,
    "q_event_sort" ->
      """SELECT epoch_us(ts) AS ts_us, event_id, user_id,
        |       round(value, 6) AS value
        |FROM events ORDER BY ts_us, event_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev_ts_us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts_us IS NULL
        |                   OR ts_us - prev_ts_us > 1800 * 1000000
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
        |           ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       round(avg(value), 6) AS avg_value
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}

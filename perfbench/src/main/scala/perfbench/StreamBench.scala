package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.{DeltaRead, DeltaWrite, StreamSource}
import graft.streaming.DataDrivenWindow.CompatRow
import graft.streaming.StreamingCompat

/** The streaming workload: the reference pipeline at 1,000 keys ×
  * 100 Hz of event time, one event-time second per micro-batch —
  * `graft-replay` → `compatPoints` → `windowsConfigured` →
  * `foreachBatch(DeltaWrite.appendSink)`. The corpus (canonical JSON,
  * values and within-second arrival order drawn from the seed) is
  * written during set-up. The timed part processes `Warm` warm-up
  * seconds plus `--seconds` seconds of event time; the Delta table is
  * then read back and every window checked against its closed form. */
object StreamBench {
  val Keys = 1000
  val Hz = 100
  val Warm = 3
  val PerBatch: Long = Keys.toLong * Hz
  val BaseUs = 1767225600000000L // 2026-01-01T00:00:00Z
  val AppId = "perfbench"

  /** `graft.Soak`'s session settings (its default of 8 shuffle
    * partitions for the state store); no checkpoint dir is set. */
  val conf: Seq[(String, String)] = Seq("spark.sql.shuffle.partitions" -> "8")

  def run(a: Main.Args): Map[String, Any] = {
    val seconds = Warm + a.seconds
    val corpus = s"${a.work}/corpus"
    Main.deleteTree(corpus)
    val spark = Main.session(a, conf)
    writeCorpus(a.seed, seconds, corpus)
    val setupS = Main.endSetUp()
    val (plain, usage) = Main.measured(timed(spark, a, corpus, seconds, None))
    val (traced, tracedS) =
      if (a.trace) Main.timedS(Seq(timed(spark, a, corpus, seconds, Some(new Tracer))))
      else (Nil, 0.0)
    Map("setup_s" -> setupS, "session" -> Main.sessionEnv(spark),
      "warm_batches" -> Warm, "phases" -> (plain +: traced),
      "phase_s" -> Map("setup" -> setupS, "timed" -> usage("wall_s"), "traced" -> tracedS),
      "timed_usage" -> usage)
  }

  // ---- inputs -------------------------------------------------------

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The measurement key `key` reports at event `k` of second `sec`. */
  def value(seed: Long, key: Int, sec: Int, k: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed) + (key.toLong << 32) + (sec.toLong << 8) + k),
      1000L).toInt

  def tsUs(sec: Int, k: Int): Long = BaseUs + sec * 1000000L + k * (1000000L / Hz)

  /** One text file per event-time second (names sort in time order,
    * which is the replay source's global order); within a second the
    * 100,000 events arrive in a seeded random order. */
  def writeCorpus(seed: Long, seconds: Int, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Main.parallel(0 until seconds) { sec =>
      val rnd = new java.util.SplittableRandom(mix(seed * 31 + sec))
      val order = Array.tabulate(Keys * Hz)(identity)
      for (i <- order.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
      }
      val w: BufferedWriter = Files.newBufferedWriter(
        Paths.get(dir, f"sec-$sec%05d.json"), StandardCharsets.UTF_8)
      try order.foreach { e =>
        val key = e / Hz
        val k = e % Hz
        val ms = k * (1000 / Hz)
        w.write(f"""{"Timestamp":"2026-01-01T${sec / 3600}%02d:${sec / 60 % 60}%02d:""" +
          f"""${sec % 60}%02d.$ms%03dZ","DeviceId":"dev-${key % 3}",""" +
          s""""SessionId":"sess-$key","SensorType":"soak","Names":["speed","player"],""" +
          s""""Values":["${value(seed, key, sec, k)}","$key"]}""")
        w.write('\n')
      } finally w.close()
    }
  }

  // ---- the timed stream -------------------------------------------------

  private def timed(spark: SparkSession, a: Main.Args, corpus: String,
                    seconds: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val tag = if (tracer.isDefined) "traced" else "plain"
    val root = s"${a.work}/delta-$tag"
    val ckpt = s"${a.work}/ckpt-$tag"
    Main.deleteTree(root); Main.deleteTree(ckpt)
    import spark.implicits._
    DeltaWrite.create(spark, spark.emptyDataset[CompatRow].toDF(), root)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (2 * seconds + 16).toString)
    val sc = spark.sparkContext
    tracer.foreach(sc.addSparkListener)
    val appendMs = mutable.Map[Long, Double]()
    val sink = DeltaWrite.appendSink(root, AppId)
    val foreach: (DataFrame, Long) => Unit = tracer match {
      case None => sink
      case Some(_) => (df, id) => {
        val t0 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanKey, s"delta:$id")
        try sink(df, id) finally sc.setLocalProperty(Tracer.SpanKey, null)
        appendMs(id) = (System.nanoTime() - t0) / 1e6
      }
    }
    val raw = StreamSource.raw(spark, "graft-replay", Map(
      "path" -> corpus, "rowsPerBatch" -> PerBatch.toString,
      "numPartitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    val rows = StreamingCompat.windowsConfigured(
      spark, StreamSource.compatPoints(spark, raw)).toDF()
    val q = rows.writeStream.foreachBatch(foreach)
      .option("checkpointLocation", ckpt).queryName(s"perfbench_$tag").start()
    // a query that dies leaves its unfinished micro-batches missing,
    // and run.py counts them as failed
    val died =
      try { q.processAllAvailable(); None }
      catch { case NonFatal(e) => Some(Main.describe(e)) }
      finally q.stop()
    val progress = q.recentProgress
    val heap = Main.heapRetainedMb()
    val data = progress.filter(_.numInputRows > 0)
    val batches = data.map { p =>
      Map("batch" -> p.batchId, "wall_s" -> p.batchDuration / 1e3,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows)
    }.toSeq
    val errors = check(spark, a.seed, root, data)
    val traced = tracer.map { tr =>
      Internals.drainBus(sc)
      sc.removeSparkListener(tr)
      layers(root, progress, appendMs.toMap, tr)
    }.getOrElse(Map.empty)
    Map("traced" -> tracer.isDefined, "batches" -> batches, "expected_batches" -> seconds,
      "died" -> died.orNull, "heap_retained_mb" -> heap, "errors" -> errors) ++ traced
  }

  // ---- output check ---------------------------------------------------

  /** The window key `key` closes in micro-batch `n` (n ≥ 1) holds 101
    * events: second n-1 from event n-1 on, and second n up to event
    * n-1 (the reference's add-then-check drain consumes one event of
    * the next second, so the window start drifts by one event per
    * second). Its speed average is their decimal mean. */
  def expectedAvg(seed: Long, key: Int, n: Int): String = {
    val s = (n - 1 until Hz).map(k => value(seed, key, n - 1, k)).sum +
      (0 until n).map(k => value(seed, key, n, k)).sum
    new java.math.BigDecimal(s).divide(new java.math.BigDecimal(Hz + 1),
      java.math.MathContext.DECIMAL128).stripTrailingZeros.toPlainString
  }

  /** Micro-batch id → what is wrong with its output. Checks: one row
    * per (key, window), each row equal to its closed form, the state
    * store flat at `Keys` rows, and every batch one second of events. */
  private def check(spark: SparkSession, seed: Long, root: String,
                    data: Array[StreamingQueryProgress]): Map[String, String] = {
    val bad = mutable.Map[Long, String]()
    def fail(b: Long, why: String): Unit = if (!bad.contains(b)) bad(b) = why
    data.foreach { p =>
      if (p.numInputRows != PerBatch) fail(p.batchId, s"${p.numInputRows} input rows")
      val st = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(-1L)
      if (st != Keys) fail(p.batchId, s"state rows $st != $Keys")
    }
    val last = data.map(_.batchId).maxOption.getOrElse(-1L)
    val seen = mutable.Map[(String, Long), Int]()
    DeltaRead.read(spark, root)
      .select("key", "tsUs", "deviceId", "sessionId", "names", "avgValues")
      .collect().foreach { r =>
        val key = r.getString(0)
        val ts = r.getLong(1)
        val n = ((ts - BaseUs) / 1000000L + 1).toInt
        seen((key, ts)) = seen.getOrElse((key, ts), 0) + 1
        val id = key.stripPrefix("sess-").takeWhile(_ != ':').toIntOption.getOrElse(-1)
        val want = Seq(s"sess-$id:$id", tsUs(n - 1, n - 1), s"dev-${id % 3}", s"sess-$id",
          Seq("speed", "player"), Seq(expectedAvg(seed, id, n), id.toString))
        val got = Seq(key, ts, r.getString(2), r.getString(3),
          r.getSeq[String](4), r.getSeq[String](5))
        if (n < 1 || n > last || id < 0 || id >= Keys) fail(n, s"unexpected row $got")
        else if (got != want) fail(n, s"row $got != $want")
      }
    seen.foreach { case ((k, ts), c) => if (c > 1) fail((ts - BaseUs) / 1000000L + 1,
      s"$c rows for ($k, $ts)") }
    for (n <- 1 to last.toInt; id <- 0 until Keys)
      if (!seen.contains((s"sess-$id:$id", tsUs(n - 1, n - 1))))
        fail(n, s"no window for key $id")
    bad.toSeq.sortBy(_._1).map { case (b, why) => b.toString -> why }.toMap
  }

  // ---- traced layers ---------------------------------------------------

  /** Per-micro-batch layer records from the engine's progress, the
    * tracer's jobs and stages, the append wrapper and the Delta log. */
  private def layers(root: String, progress: Array[StreamingQueryProgress],
                     appendMs: Map[Long, Double], tr: Tracer): Map[String, Any] = {
    val spans = new Spans
    val log = deltaLog(root)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val perBatch = progress.toSeq.map { p =>
      val id = p.batchId
      val jobs = tr.jobsWhere(_.batch.contains(id))
      val deltaJobs = jobs.filter(_.span == s"delta:$id")
      val t = tr.totals(jobs)
      val op = p.stateOperators.headOption
      val append = appendMs.getOrElse(id, 0.0)
      val (files, bytes) = log.getOrElse(id, (0L, 0L))
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val b = spans.add(Spans.Root, "batch", s"batch $id", startMs, p.batchDuration)
      spans.add(b, "spark.plan", s"batch $id", startMs, d(p, "queryPlanning"))
      spans.addJobs(spans.add(b, "sources.delta.append", s"batch $id",
        startMs + d(p, "queryPlanning"), append), deltaJobs, tr)
      Map[String, Any](
        "batch" -> id, "data" -> (p.numInputRows > 0),
        "streaming.trigger_ms" -> d(p, "triggerExecution"),
        "streaming.planning_ms" -> d(p, "queryPlanning"),
        "streaming.add_batch_ms" -> d(p, "addBatch"),
        "streaming.wal_commit_ms" -> d(p, "walCommit"),
        "streaming.commit_offsets_ms" -> d(p, "commitOffsets"),
        "sources.replay.latest_offset_ms" -> d(p, "latestOffset"),
        "sources.replay.get_batch_ms" -> d(p, "getBatch"),
        "state.rows_total" -> op.map(_.numRowsTotal).getOrElse(0L),
        "state.rows_updated" -> op.map(_.numRowsUpdated).getOrElse(0L),
        "state.memory_bytes" -> op.map(_.memoryUsedBytes).getOrElse(0L),
        "state.update_ms" -> op.map(_.allUpdatesTimeMs).getOrElse(0L),
        "state.commit_ms" -> op.map(_.commitTimeMs).getOrElse(0L),
        "sources.delta.append_ms" -> append,
        "sources.delta.commit_ms" -> math.max(0.0, append - deltaJobs.map(j =>
          j.endMs - j.startMs).sum),
        "sources.delta.files_written" -> files,
        "sources.delta.bytes_written" -> bytes,
        "spark.exec.jobs" -> t.jobs,
        "spark.exec.stages" -> t.stages,
        "spark.exec.stages_skipped" -> t.skipped,
        "spark.exec.tasks" -> t.tasks,
        "spark.exec.task_run_ms" -> t.runMs,
        "spark.exec.task_cpu_ms" -> t.cpuMs,
        "spark.exec.gc_ms" -> t.gcMs,
        "spark.exec.ms" -> t.jobMs,
        "spark.exec.busy_frac" ->
          (if (t.jobMs > 0) t.runMs.toDouble / (t.jobMs * Main.cores) else 0.0),
        "shuffle.exchanges" -> t.exchanges,
        "shuffle.write_bytes" -> t.shuffleWrite,
        "shuffle.read_bytes" -> t.shuffleRead,
        "shuffle.fetch_wait_ms" -> t.fetchWaitMs,
        "shuffle.spill_bytes" -> t.spill)
    }
    Map("layers_per_batch" -> perBatch, "self_ms_by_layer" -> spans.selfMsByLayer,
      "spans" -> spans.toJson)
  }

  /** Streaming batch id → (files added, bytes added), from the `txn`
    * and `add` actions of each Delta commit. */
  private def deltaLog(root: String): Map[Long, (Long, Long)] = {
    val ls = Files.list(Paths.get(root, "_delta_log"))
    val commits =
      try ls.iterator.asScala.filter(_.getFileName.toString.matches("\\d{20}\\.json")).toSeq
      finally ls.close()
    commits.flatMap { f =>
      val actions = Files.readAllLines(f).asScala.map(l => Main.json.readTree(l))
      val batch = actions.find(_.has("txn")).map(_.get("txn").get("version").asLong)
      val adds = actions.filter(_.has("add")).map(_.get("add").get("size").asLong)
      batch.map(_ -> (adds.size.toLong, adds.sum))
    }.toMap
  }
}

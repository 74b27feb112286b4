package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The batch workload: closed-loop passes over a fixed query list
  * (`--queries`, set by `run.py`), each query built by
  * `SparkEntry.queries(name)` and written to a `noop` sink, order
  * permuted by the seed on every pass. Set-up ends with an untimed
  * check pass over the `--check-sf` tables that writes each result as
  * parquet for `run.py` to compare with its DuckDB oracle. */
object BatchBench {

  /** `graft.Bench`'s session settings; no checkpoint dir is set, so
    * pins use `localCheckpoint`. */
  def conf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> Main.cores.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  case class Op(name: String, pass: Int, traced: Boolean, wallS: Double,
                error: Option[String])

  def run(a: Main.Args, names: Seq[String]): Map[String, Any] = {
    val spark = Main.session(a, conf)
    // the check pass is set-up's warm-up: the timed passes measure a
    // JVM that has already planned and compiled every query once; a
    // warm-up at the smaller check scale leaves the timed pass no
    // slower than one at the timed scale
    val (check, checkS) = Main.timedS(checkPass(spark, a, names))
    val setupS = Main.endSetUp()
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val (passes, usage) = Main.measured(timed(spark, a, names, trace))
    Map("setup_s" -> setupS, "session" -> Main.sessionEnv(spark),
      "timed" -> passes, "check" -> check,
      "phase_s" -> Map("setup" -> setupS, "check" -> checkS, "timed" -> usage("wall_s")),
      "timed_usage" -> usage) ++
      trace.map(_.finish()).getOrElse(Map.empty)
  }

  /** Whole passes until `--seconds` have elapsed (at least one). In a
    * traced run every query runs twice back to back, once traced and
    * once not, alternating which goes first so that neither gains
    * from the other's warm-up; the difference is the tracing cost. */
  private def timed(spark: SparkSession, a: Main.Args, names: Seq[String],
                    trace: Option[Trace]): Map[String, Any] = {
    val ops = ArrayBuffer[Op]()
    val passS = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (passS.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val pass = passS.size
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(names)
      val p0 = System.nanoTime()
      order.zipWithIndex.foreach { case (n, i) =>
        val modes = trace.fold(Seq(Option.empty[Trace]))(t =>
          if (i % 2 == 0) Seq(None, Some(t)) else Seq(Some(t), None))
        modes.foreach(m => ops += one(spark, a, n, pass, m))
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    Map("pass_s" -> passS.toSeq, "heap_retained_mb" -> Main.heapRetainedMb(),
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "wall_s" -> o.wallS, "error" -> o.error.orNull)))
  }

  /** One query: build (`SparkEntry.queries(name)`), plan and execute to
    * `noop`. Pins it left are released after the clock stops. */
  private def one(spark: SparkSession, a: Main.Args, name: String, pass: Int,
                  trace: Option[Trace]): Op = {
    val sc = spark.sparkContext
    val qid = s"$pass:$name"
    trace.foreach(_.attach())
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var df: DataFrame = null
    val error =
      try {
        if (trace.isDefined) sc.setLocalProperty(Tracer.SpanKey, s"$qid/build")
        df = SparkEntry.queries(name)(spark, a.sf)
        t1 = System.nanoTime()
        if (trace.isDefined) sc.setLocalProperty(Tracer.SpanKey, s"$qid/exec")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(Main.describe(e)) }
      finally sc.setLocalProperty(Tracer.SpanKey, null)
    val t2 = System.nanoTime()
    trace.foreach(_.detach(qid, name, pass, t0ms, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
      if (error.isEmpty) Some(df) else None))
    Main.releasePins(spark)
    Op(name, pass, trace.isDefined, (t2 - t0) / 1e9, error)
  }

  /** Untimed: every query's result as one parquet file under
    * `<work>/check/<name>`, in the query's own row order. Queries run
    * `cores` at a time (the pass is not timed); their pins are
    * released once all have finished. */
  private def checkPass(spark: SparkSession, a: Main.Args,
                        names: Seq[String]): Map[String, Any] = {
    val dir = s"${a.work}/check"
    Main.deleteTree(dir)
    val errors = Main.parallel(names.sorted) { n =>
      n -> (try {
        SparkEntry.queries(n)(spark, a.checkSf).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        null
      } catch { case NonFatal(e) => Main.describe(e) })
    }
    Main.releasePins(spark)
    Map("dir" -> dir, "errors" -> errors.toMap)
  }

  /** Per-query layer records of the traced executions. The listeners
    * are attached only while a traced execution runs. */
  private class Trace(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val tracer = new Tracer
    private val qes = new ConcurrentLinkedQueue[QueryExecution]()
    private val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    }
    private val spans = new Spans
    private val perQuery = ArrayBuffer[Map[String, Any]]()

    def attach(): Unit = {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(listener)
    }

    /** Stops listening and, for a query that succeeded (`df`), records
      * its layers and spans. */
    def detach(qid: String, name: String, pass: Int, t0ms: Long,
               buildMs: Double, writeMs: Double, df: Option[DataFrame]): Unit = {
      val pins = sc.getRDDStorageInfo.filter(_.isCached)
      Internals.drainBus(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(listener)
      val ran = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
      df.foreach(record(qid, name, pass, t0ms, buildMs, writeMs, _, pins, ran))
    }

    private def record(qid: String, name: String, pass: Int, t0ms: Long,
                       buildMs: Double, writeMs: Double, df: DataFrame,
                       pins: Array[org.apache.spark.storage.RDDInfo],
                       ran: Seq[QueryExecution]): Unit = {
      val execStartMs = t0ms + buildMs
      // planning phases of every query execution this query ran: the
      // built frame's eager analysis, its pins, and the noop write
      def phases(qe: QueryExecution) = qe.tracker.phases
      def phaseMs(qs: Seq[QueryExecution], p: String) =
        qs.flatMap(phases(_).get(p)).map(_.durationMs.toDouble).sum
      val all = df.queryExecution +: ran
      val inWrite = ran.filter(phases(_).values.map(_.startTimeMs)
        .minOption.exists(_ >= execStartMs))
      val writePlanMs = Seq("analysis", "optimization", "planning")
        .map(phaseMs(inWrite, _)).sum
      val execMs = math.max(0.0, writeMs - writePlanMs)
      val buildJobs = tracer.jobsWhere(_.span == s"$qid/build")
      val execJobs = tracer.jobsWhere(_.span == s"$qid/exec")
      val t = tracer.totals(buildJobs ++ execJobs)
      perQuery += Map(
        "name" -> name, "pass" -> pass,
        "ops.build_ms" -> buildMs,
        "ops.build_jobs" -> buildJobs.size,
        "spark.plan.analysis_ms" -> phaseMs(all, "analysis"),
        "spark.plan.optimization_ms" -> phaseMs(all, "optimization"),
        "spark.plan.planning_ms" -> phaseMs(all, "planning"),
        "spark.exec.ms" -> execMs,
        "spark.exec.jobs" -> t.jobs,
        "spark.exec.stages" -> t.stages,
        "spark.exec.stages_skipped" -> t.skipped,
        "spark.exec.tasks" -> t.tasks,
        "spark.exec.task_run_ms" -> t.runMs,
        "spark.exec.task_cpu_ms" -> t.cpuMs,
        "spark.exec.gc_ms" -> t.gcMs,
        "pin.rdds" -> pins.length,
        "pin.mem_bytes" -> pins.map(_.memSize).sum,
        "pin.disk_bytes" -> pins.map(_.diskSize).sum,
        "shuffle.exchanges" -> t.exchanges,
        "shuffle.write_bytes" -> t.shuffleWrite,
        "shuffle.read_bytes" -> t.shuffleRead,
        "shuffle.fetch_wait_ms" -> t.fetchWaitMs,
        "shuffle.spill_bytes" -> t.spill,
        "sources.scan_bytes" -> t.scanBytes,
        "sources.scan_rows" -> t.scanRows)
      val q = spans.add(Spans.Root, "query", name, t0ms, buildMs + writeMs)
      spans.addJobs(spans.add(q, "ops.build", name, t0ms, buildMs), buildJobs, tracer)
      spans.add(q, "spark.plan", name, execStartMs, writePlanMs)
      spans.addJobs(spans.add(q, "spark.exec", name, execStartMs + writePlanMs, execMs),
        execJobs, tracer)
    }

    /** Per-pass sums of the per-query records, plus the span tree. */
    def finish(): Map[String, Any] = {
      val perPass = perQuery.groupBy(_("pass")).toSeq.sortBy(_._1.asInstanceOf[Int])
        .map { case (_, qs) =>
          val keys = qs.head.keySet - "name" - "pass"
          val sums = keys.map(k => k -> qs.map(q => num(q(k))).sum).toMap
          val busyWall = (sums("ops.build_ms") + sums("spark.exec.ms")) * Main.cores
          sums.updated("spark.exec.busy_frac",
            if (busyWall > 0) sums("spark.exec.task_run_ms") / busyWall else 0.0)
        }
      Map("layers_per_pass" -> perPass, "layers_per_query" -> perQuery.toSeq,
        "self_ms_by_layer" -> spans.selfMsByLayer, "spans" -> spans.toJson)
    }
  }

  private def num(v: Any): Double = v.asInstanceOf[java.lang.Number].doubleValue
}

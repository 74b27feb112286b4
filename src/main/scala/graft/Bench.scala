package graft
import scala.util.control.NonFatal

/** Bench harness: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * one JSON line out. Methodology (VERDICT r01 item 9, r03 item 3):
  *  - results go to a `noop`-format sink, not `.count()` — count() lets
  *    Catalyst prune final sorts/projections, under-measuring the plan;
  *  - two untimed warm-up runs absorb JVM/codegen/parquet-footer costs
  *    so per-query numbers are comparable round over round;
  *  - each query runs SPARK_GRAFT_RUNS times (default 3) back to back
  *    and the REPORTED number is the per-query MEDIAN — a one-off GC /
  *    cleanup stall carried over from a neighboring query perturbs at
  *    most one of the runs, so phantom outliers stop polluting the
  *    recorded artifact (r2/r3 both recorded 6-8 s for q_json_extract
  *    that re-measured at ~1 s). Raw runs are kept in a `runs` field,
  *    emitted FIRST in the line: the driver archives a truncated
  *    stdout TAIL, so the medians/totals at the end survive;
  *  - queries run in sorted-name order (stable diffs);
  *  - failures are surfaced in an "errors" field + stderr, never
  *    silently timed as if they ran.
  */
object Bench {
  /** 1-minute loadavg + java-process count: the two facts that explain
    * run-to-run variance on a shared box (VERDICT r7 item 2 — bench
    * claims must be attributable when they diverge across sessions). */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }
  private def jvmCount(): Long =
    try {
      import scala.jdk.StreamConverters._
      ProcessHandle.allProcesses().toScala(Seq)
        .count(_.info().command().map[Boolean](_.contains("java")).orElse(false))
        .toLong
    } catch { case NonFatal(_) => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadAvg()
    val jvmsStart = jvmCount()
    val cpus = Session.envPositiveInt("SPARK_GRAFT_CPUS", 32)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val spark = Session.start(s"local[$cpus]", cpus)

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    /** Release blockstore state a finished run leaked (eagerly pinned
      * checkpoint/localCheckpoint frames some operators materialize
      * INSIDE their timed invocation). Without this, pinned RDDs
      * accumulate across 251 queries × nRuns until the ContextCleaner
      * happens to GC them, and the mounting storage/GC pressure was
      * measured to slow UNRELATED later queries by 2-3× in a full
      * run. Runs BETWEEN timed regions: every run still computes its
      * own pins from parquet (the pin cost stays inside the timing;
      * nothing is reused across runs — this enforces that). */
    def releaseLeakedBlocks(): Unit =
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      catch { case NonFatal(_) => () }

    // Warm-up: one window-agg over events, one hash-agg over lineitem.
    Seq("q_demux_window_avg", "q_groupby_agg").foreach { n =>
      try run(n) catch { case NonFatal(_) => () }
    }
    releaseLeakedBlocks()

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (targeted timing).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.ListBuffer[String]()
    def sec3(v: Double): Double = math.rint(v * 1000) / 1000
    // name -> all run times (seconds, ms precision to keep the line small)
    val raw: Seq[(String, Seq[Double])] = names.map { name =>
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { run(name); true }
          catch { case NonFatal(e) =>
            if (!errors.contains(name)) errors += name
            System.err.println(
              s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
        val t = if (ok) sec3((System.nanoTime() - t0) / 1e9) else Double.NaN
        releaseLeakedBlocks() // between timed regions — see scaladoc
        t
      }.filterNot(_.isNaN)
      name -> times
    }
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted; s((s.size - 1) / 2)
    }
    // A query that failed EVERY run has no timing: it is excluded from
    // `queries`/`value`/`n_queries` (it stays visible in `errors` and
    // as an empty list in `runs`) — otherwise median(empty)=0 would
    // silently deflate totals versus rounds where it ran (ADVICE r4).
    val results = raw.collect { case (k, ts) if ts.nonEmpty => k -> median(ts) }
    val runsJson = raw.map { case (k, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = sec3(results.map(_._2).sum)
    // Apples-to-apples round-over-round metric: the query set grows
    // every round, so alongside the full total we report the total
    // over exactly the round-1 set (the 36 CORRECTNESS_r01 keys).
    val r1Keys = Set(
      "q_approx_distinct", "q_asof_prev_event", "q_correlated_exists",
      "q_cube", "q_demux_window_agg_multi", "q_demux_window_avg",
      "q_distinct", "q_event_sort", "q_except", "q_groupby_agg",
      "q_hash_join_inner", "q_intersect", "q_join_anti",
      "q_join_left_outer", "q_join_multiway", "q_join_semi",
      "q_json_extract", "q_key_synthesis", "q_map_pivot",
      "q_parse_errors", "q_range_join", "q_rollup", "q_safe_cast_avg",
      "q_scalar_array", "q_scalar_datetime", "q_scalar_string",
      "q_scalar_subquery", "q_scan_filter_project", "q_sessionize",
      "q_sort_limit", "q_subquery_in", "q_topk_per_group",
      "q_union_all", "q_window_analytic", "q_window_first_meta",
      "q_window_rank")
    val r1Subset = sec3(results.collect { case (k, v) if r1Keys(k) => v }.sum)
    // Field order matters: the driver archives a truncated stdout TAIL
    // (last ~2000 chars), so the two big maps (`runs`, then `queries`)
    // go FIRST as the sacrificial prefix and EVERY scalar aggregate —
    // value, baseline_subset, errors, counts — sits at the very end of
    // the line where the tail always keeps it (r5 VERDICT lost `value`
    // and half the medians to the old order).
    // env.cpus is the CONFIGURED core count ($SPARK_GRAFT_CPUS — what
    // local[N] actually ran with), not availableProcessors: the
    // driver's low-core run was mislabeled "cpus":32 in r15
    // (VERDICT r15 item 5).
    val env = s""""env":{"load_start":$loadStart,"load_end":${loadAvg()},""" +
      s""""cpus":$cpus,""" +
      s""""jvms_start":$jvmsStart,"jvms_end":${jvmCount()}}"""
    val line = s"""{"runs":$runsJson,"queries":$qs,"metric":"total","unit":"sec","stat":"median","n_runs":$nRuns,"errors":$errJson,"n_queries":${results.size},"n_excluded":${names.size - results.size},$env,"value":$total,"baseline_subset":$r1Subset,"sf":"$sfDir"}"""
    println(line)
    // Compact summary as the FINAL stdout line (VERDICT r15 item 2):
    // the driver archives only a ~2000-char stdout tail, and the full
    // line above (251 per-query medians + raw runs) has exceeded it
    // every round, so the driver's PERF parse has been null since r1.
    // This line always fits any tail; the full line (and the artifact
    // file below) still carry the per-query detail — additions only,
    // nothing removed or renamed.
    println(s"""{"metric":"total","unit":"sec","stat":"median","n_runs":$nRuns,"errors":$errJson,"n_queries":${results.size},"n_excluded":${names.size - results.size},$env,"value":$total,"baseline_subset":$r1Subset,"sf":"$sfDir"}""")
    // The driver archives only a ~2000-char stdout TAIL, losing the
    // per-query medians for keys a–o; persist the COMPLETE line so
    // round-over-round per-query regression analysis has a committed
    // artifact (VERDICT r7 item 3).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full_latest.json")),
      line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] full-artifact write failed: $e") }
    spark.stop()
  }
}

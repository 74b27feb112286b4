package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * samples, per-layer records and environment to `--out` as JSON.
  * `perfbench/run.py` builds this, starts it, checks the outputs and
  * turns the samples into metrics.
  *
  *   perfbench.Main --workload olap_short --queries q_a,q_b
  *     --seed N --seconds N --trace 0|1 --sf DIR --check-sf DIR
  *     --work DIR --out FILE
  *   perfbench.Main --workload stream_dispatch --seed N --seconds N
  *     --trace 0|1 --work DIR --out FILE
  *   perfbench.Main --workload oracle_sql --queries q_a,q_b --out FILE
  */
object Main {

  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  sf: String, checkSf: String, work: String, out: String,
                  queries: Seq[String])

  /** `local[N]` uses every core the JVM sees (`nproc`). */
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Wall-clock ms at which this JVM started: the zero of `setup_s`. */
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0, s"expected --key value pairs: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    def opt(k: String, d: String) = kv.getOrElse(k, d)
    val a = Args(kv("workload"), opt("seed", "1").toLong, opt("seconds", "10").toInt,
      opt("trace", "0") == "1", opt("sf", ""), opt("check-sf", ""), opt("work", ""), kv("out"),
      opt("queries", "").split(",").filter(_.nonEmpty).toSeq)
    val loadStart = loadAvg()
    val result: Map[String, Any] = a.workload match {
      case "olap_short" => BatchBench.run(a, a.queries)
      case "stream_dispatch" => StreamBench.run(a)
      case "oracle_sql" => Map("oracle_sql" ->
        a.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
      case w => sys.error(s"unknown workload $w")
    }
    val env = Map("nproc" -> cores, "jvm_heap_max_mb" ->
        Runtime.getRuntime.maxMemory / 1048576, "load_start" -> loadStart,
      "load_end" -> loadAvg(), "jvms" -> jvmCount())
    Files.writeString(Paths.get(a.out), json.writeValueAsString(result.updated("env", env)))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** A session with the settings every workload shares plus `conf`.
    * Scratch space (shuffle files, spills, warehouse) stays under the
    * run's work directory. */
  def session(a: Args, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
    (Seq(
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> s"${a.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse") ++ conf)
      .foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ends set-up: collects the set-up's garbage, so the timed part
    * starts from the same heap on every run, and returns `setup_s`,
    * the seconds from JVM start to here. */
  def endSetUp(): Double = {
    System.gc()
    (System.currentTimeMillis() - jvmStartMs) / 1e3
  }

  /** `f` over `xs` on `cores` threads, results in the order of `xs`. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = f(x)
    })).map(_.get())
    finally pool.shutdown()
  }

  /** Runs `f`; returns its result and the wall, process CPU and JIT
    * compilation seconds it took. CPU beside wall tells a slower host
    * (less CPU per wall second) from more work. */
  def measured[T](f: => T): (T, Map[String, Double]) = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val (c0, j0) = (os.getProcessCpuTime, jit.getTotalCompilationTime)
    val (r, wall) = timedS(f)
    (r, Map("wall_s" -> wall, "cpu_s" -> (os.getProcessCpuTime - c0) / 1e9,
      "jit_s" -> (jit.getTotalCompilationTime - j0) / 1e3))
  }

  /** Runs `f`, returning its result and wall seconds. */
  def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The session settings a result is reported with. */
  def sessionEnv(s: SparkSession): Map[String, Any] = Map(
    "master" -> s.sparkContext.master,
    "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
    "checkpoint_dir" -> s.sparkContext.getCheckpointDir.orNull,
    "conf" -> s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap)

  /** Heap in use after full collections, in MB. Each collection lets
    * Spark's ContextCleaner drop the blocks of broadcasts and shuffles
    * that became unreachable, which a later one reclaims; the cleaner
    * can lag a round behind (seen: 197, 100, 92, 92 ... MB), so this
    * is the least of six collections 200 ms apart. */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 6).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }

  /** Drops every persisted RDD a finished operation left behind, so
    * one query's pins do not slow the next (as `graft.Bench` does). */
  def releasePins(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally walk.close()
    }
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def jvmCount(): Long = {
    import scala.jdk.StreamConverters._
    ProcessHandle.allProcesses().toScala(Seq)
      .count(_.info().command().map[Boolean](_.endsWith("java")).orElse(false))
  }
}

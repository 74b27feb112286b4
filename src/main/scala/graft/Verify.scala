package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Session.envPositiveInt("SPARK_GRAFT_CPUS", 32)
    // Input-size-aware shuffle-partition default (r10, replacing the
    // manual SPARK_GRAFT_PARTS lever): partitions scale with the
    // corpus — one per ~32 MB of on-disk parquet (≈128 MB in memory
    // at this testdata's measured ~4× decompression expansion),
    // floored at the thread count so small gates keep every core
    // busy, capped at 4096. At 100 TB this is ~3M-partition
    // territory handled by AQE coalescing; the point is the DEFAULT
    // grows with data instead of being pinned to local thread count.
    val inputBytes = {
      val ls = Files.list(Paths.get(sfDir)) // close: bare streams leak the dir fd
      try ls.toArray
        .map(p => p.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p))
        .map(Files.size).sum
      finally ls.close()
    }
    val parts = math.min(4096L,
      math.max(cpus.toLong, inputBytes / (32L << 20) + 1)).toInt
    val spark = Session.start(s"local[$cpus]", parts)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" → runtime session confs, so a
    // gate can flip production-shape switches (e.g.
    // spark.graft.dedup.materialize=true) without code edits.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (local iteration);
    // the driver runs without it → full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release pinned checkpoint frames the finished query leaked —
      // they otherwise accumulate across the 251-query dump (at sf10
      // gate scale that's an OOM risk, and the next query recomputes
      // its own pins from parquet regardless)
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      catch { case NonFatal(_) => () }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span tree of a traced run: `query`/`batch` → `ops.build`,
  * `spark.plan`, `spark.exec`, `sources.delta.append` → `spark.job` →
  * `spark.stage`. Written out once at the end of the run. */
class Spans {
  import Spans.Span

  private val buf = ArrayBuffer[Span]()

  /** Adds a span and returns its id (use it as a child's parent). */
  def add(parent: Int, layer: String, name: String,
          startMs: Double, durMs: Double): Int = {
    buf += Span(buf.size, parent, layer, name, startMs, math.max(0.0, durMs))
    buf.size - 1
  }

  /** The jobs of `js` as `spark.job` spans under `parent`, each with
    * its stages as `spark.stage` spans. */
  def addJobs(parent: Int, js: Seq[Tracer.Job], tr: Tracer): Unit = js.foreach { j =>
    val jid = add(parent, "spark.job", s"job ${j.id}", j.startMs, j.endMs - j.startMs)
    j.stageIds.flatMap(s => Option(tr.stages.get(s))).foreach { s =>
      add(jid, "spark.stage", s"stage ${s.id}", s.submitMs, s.doneMs - s.submitMs)
    }
  }

  /** Per-layer self time: a span's duration minus its children's,
    * floored at zero (stages of one job can overlap). */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = buf.groupMapReduce(_.parent)(_.durMs)(_ + _)
    buf.groupMapReduce(_.layer)(s =>
      math.max(0.0, s.durMs - childMs.getOrElse(s.id, 0.0)))(_ + _)
  }

  def toJson: Seq[Map[String, Any]] = buf.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start_ms" -> s.startMs, "dur_ms" -> s.durMs))
}

object Spans {
  val Root = -1
  case class Span(id: Int, parent: Int, layer: String, name: String,
                  startMs: Double, durMs: Double)
}

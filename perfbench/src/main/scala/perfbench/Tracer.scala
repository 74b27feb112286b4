package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._

/** Bench-side SparkListener for the traced run. Every job carries the
  * span it belongs to in the `perfbench.span` local property (set by
  * the bench around each timed call) or, for streaming, the engine's
  * own `streaming.sql.batchId`. Stage metrics are the engine's
  * per-stage task-metric totals. Records stay in memory until the end
  * of the run. */
class Tracer extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val j = Job(e.jobId,
      p.flatMap(x => Option(x.getProperty(SpanKey))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong),
      e.time, e.stageIds)
    jobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = Stage(i.stageId, i.numTasks, Internals.isShuffleMap(i),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    Option(i.taskMetrics).foreach { m =>
      s.runMs = m.executorRunTime
      s.cpuMs = m.executorCpuTime / 1e6
      s.gcMs = m.jvmGCTime
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      s.scanBytes = m.inputMetrics.bytesRead
      s.scanRows = m.inputMetrics.recordsRead
    }
    stages.put(i.stageId, s)
  }

  /** Jobs whose span satisfies `p`, in start order. */
  def jobsWhere(p: Job => Boolean): Seq[Job] =
    jobs.values.asScala.filter(p).toSeq.sortBy(_.id)

  /** Engine totals over `js`. A stage listed by a job that never ran
    * is skipped (its shuffle output was reused); a stage shared by
    * several jobs is counted once. */
  def totals(js: Seq[Job]): Totals = {
    val t = Totals()
    val seen = mutable.Set[Int]()
    js.foreach { j =>
      t.jobs += 1
      t.jobMs += math.max(0L, j.endMs - j.startMs)
      j.stageIds.foreach { sid =>
        if (seen.add(sid)) Option(stages.get(sid)) match {
          case Some(s) =>
            t.stages += 1
            t.tasks += s.tasks
            if (s.shuffleMap) t.exchanges += 1
            t.runMs += s.runMs; t.cpuMs += s.cpuMs; t.gcMs += s.gcMs
            t.shuffleWrite += s.shuffleWrite; t.shuffleRead += s.shuffleRead
            t.fetchWaitMs += s.fetchWaitMs; t.spill += s.spill
            t.scanBytes += s.scanBytes; t.scanRows += s.scanRows
          case None => t.skipped += 1
        }
      }
    }
    t
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  case class Job(id: Int, span: String, batch: Option[Long], startMs: Long,
                 stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }

  case class Stage(id: Int, tasks: Int, shuffleMap: Boolean,
                   submitMs: Long, doneMs: Long) {
    var runMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill,
        scanBytes, scanRows = 0L
    var cpuMs = 0.0
  }

  case class Totals() {
    var jobs, stages, skipped, tasks, exchanges = 0L
    var jobMs, runMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill,
        scanBytes, scanRows = 0L
    var cpuMs = 0.0
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one traced window. */
final case class Window(wallS: Double, jobs: Long, stages: Long, tasks: Long,
                        taskTimeS: Double, maxTaskS: Double,
                        shuffleWriteMb: Double, spillMb: Double, planningS: Double,
                        batches: Long, triggerMs: Double) {
  def busyCores: Double = if (wallS > 0) taskTimeS / wallS else 0.0
  /** Longest task's share of all task time: 1.0 means one task did it all. */
  def maxTaskShare: Double = if (taskTimeS > 0) maxTaskS / taskTimeS else 0.0
  /** Mean trigger (micro-batch) duration of the streaming queries in the window. */
  def triggerMsPerBatch: Double = if (batches > 0) triggerMs / batches else 0.0
  def counters: Seq[Double] = Seq(wallS, jobs.toDouble, stages.toDouble, tasks.toDouble,
    taskTimeS, maxTaskS, shuffleWriteMb, spillMb, planningS, batches.toDouble, triggerMs)
}

/** Planning time (analysis, optimization, physical planning) of every
  * query execution. Registered through `spark.sql.queryExecutionListeners`
  * (see [[Session.start]]), which every session instantiates, so it also
  * counts the sessions the engine opens itself. */
final class PlanningListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    PlanningListener.ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object PlanningListener {
  val ms = new AtomicLong
}

/** Spark's public listener APIs, registered from the benchmark: job,
  * stage and task counters, streaming progress (delivered to every
  * `SparkListener` as an "other" event, whichever session ran the
  * stream), and [[PlanningListener]]'s planning time. Counters only
  * grow; a [[window]] is the difference of two snapshots, so windows may
  * nest. Fields are written on the listener-bus thread and read only
  * after the bus is drained. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private var jobs, stages, shuffleBytes, spillBytes, batches, triggerMs = 0L
  private val taskMs = mutable.ArrayBuffer[Long]()

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    taskMs += (if (m != null) m.executorRunTime else 0L)
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      batches += 1
      triggerMs += Option(p.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    case _ =>
  }
  private def snap(): Tracer.Snap = {
    BenchBus.drain(spark.sparkContext)
    Tracer.Snap(jobs, stages, taskMs.size, shuffleBytes, spillBytes, PlanningListener.ms.get,
      batches, triggerMs)
  }

  /** Runs `body` and returns its wall time with the counters it moved. */
  def window(body: => Unit): Window = {
    val a = snap()
    val t0 = System.nanoTime()
    body
    val wall = Stats.seconds(t0)
    val b = snap()
    val tasks = taskMs.slice(a.tasks, b.tasks)
    val mb = 1024.0 * 1024.0
    Window(wall, b.jobs - a.jobs, b.stages - a.stages, tasks.size, tasks.sum / 1e3,
      if (tasks.isEmpty) 0.0 else tasks.max / 1e3, (b.shuffle - a.shuffle) / mb,
      (b.spill - a.spill) / mb, (b.planning - a.planning) / 1e3, b.batches - a.batches,
      (b.trigger - a.trigger).toDouble)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Tracer {
  private final case class Snap(jobs: Long, stages: Long, tasks: Int, shuffle: Long, spill: Long,
                                planning: Long, batches: Long, trigger: Long)

  /** Median of each counter over several windows of the same work. */
  def median(ws: Seq[Window]): Window = {
    def m(f: Window => Double) = Stats.median(ws.map(f))
    Window(m(_.wallS), m(_.jobs.toDouble).round, m(_.stages.toDouble).round,
      m(_.tasks.toDouble).round, m(_.taskTimeS), m(_.maxTaskS), m(_.shuffleWriteMb),
      m(_.spillMb), m(_.planningS), m(_.batches.toDouble).round, m(_.triggerMs))
  }

  /** The `spark.*` metrics every workload reports for its traced iterations. */
  def sparkMetrics(w: Window, r: Report): Unit = {
    r.metric("spark.jobs", w.jobs, "count")
    r.metric("spark.stages", w.stages, "count")
    r.metric("spark.tasks", w.tasks, "count")
    r.metric("spark.task_time_s", w.taskTimeS, "s")
    r.metric("spark.busy_cores", w.busyCores, "cores")
    r.metric("spark.max_task_share", w.maxTaskShare, "ratio")
    r.metric("spark.shuffle_write_mb", w.shuffleWriteMb, "MB")
    r.metric("spark.spill_mb", w.spillMb, "MB")
    r.metric("spark.planning_s", w.planningS, "s")
  }

  /** The traced run's own invariants on one window. */
  def check(name: String, w: Window, r: Report): Unit = {
    r.check(s"$name: no negative counter", w.counters.forall(_ >= 0), w.toString)
    r.check(s"$name: tasks >= stages", w.tasks >= w.stages, s"tasks=${w.tasks} stages=${w.stages}")
  }
}

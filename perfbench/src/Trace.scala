package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanoTime resolution, so benchmark
  * spans and listener events (epoch ms) share one time axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(name: String, op: Int, startMs: Double, endMs: Double, parent: Int)

final case class JobRec(id: Int, startMs: Double, var endMs: Double, batchId: Option[Long],
    stageIds: Seq[Int])

final case class StageRec(id: Int, numTasks: Int, startMs: Double, endMs: Double,
    taskMs: Seq[Long], runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, recordsRead: Long)

final case class TaskMetricsRec(durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, recordsRead: Long)

final case class PhaseRec(startMs: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, tryCaptureNodes: Int)

/** In-memory trace of one run: spans recorded around each call
  * into a graft layer, plus job/stage/task and Catalyst-phase records
  * from Spark listeners. Nothing is written until the run ends. With
  * `enabled = false` every call is a pass-through and no listener is
  * installed, so timed runs pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val tasksByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskMetricsRec]]
  private var spark: SparkSession = _

  /** Time `body` as a span named `name` of operation `op`. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(name, op, Clock.nowMs, Double.NaN, parent)
      open.push(idx)
      try body
      finally {
        open.pop()
        spans(idx) = spans(idx).copy(endMs = Clock.nowMs)
      }
    }

  def install(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val batch = Option(e.properties)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
        jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN, batch, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val m = e.taskMetrics
        if (m != null) {
          tasksByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskMetricsRec(
            e.taskInfo.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        val ts = tasksByStage.remove(i.stageId).map(_.toSeq).getOrElse(Seq.empty)
        stages += StageRec(i.stageId, i.numTasks,
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
          ts.map(_.durMs), ts.map(_.runMs).sum, ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum,
          ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
          ts.map(_.recordsRead).sum)
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
        val rec = PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning"),
          Tracer.countTryCapture(qe.executedPlan))
        Tracer.this.synchronized { phases += rec }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

object Tracer {
  /** Every physical node of an executed plan, through AQE wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def countTryCapture(p: SparkPlan): Int =
    nodes(p).map(_.expressions.map(_.collect {
      case t: graft.functions.TryCapture => t
    }.size).sum).sum
}

/** The traced run's raw records, reduced to metrics by `run.py`. */
object TraceReport {
  def summary(t: Tracer): Map[String, Any] = {
    t.drain()
    t.synchronized {
      Map(
        "spans" -> t.spans.toSeq.map(s => Seq(s.name, s.op, s.startMs, s.endMs, s.parent)),
        "jobs" -> t.jobs.toSeq.map(j => Map("id" -> j.id, "start" -> j.startMs, "end" -> j.endMs,
          "batch" -> j.batchId.getOrElse(-1L), "stages" -> j.stageIds)),
        "stages" -> t.stages.toSeq.map(s => Map("id" -> s.id, "tasks" -> s.numTasks,
          "start" -> s.startMs, "end" -> s.endMs, "task_ms" -> s.taskMs, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill, "records_read" -> s.recordsRead)),
        "phases" -> t.phases.toSeq.map(p => Map("start" -> p.startMs, "analysis" -> p.analysisMs,
          "optimization" -> p.optimizationMs, "planning" -> p.planningMs,
          "try_capture_nodes" -> p.tryCaptureNodes)))
    }
  }
}

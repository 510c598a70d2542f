package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into a layer.
  * Times are wall-clock milliseconds (the clock Spark's listener events
  * use), so spans and listener events share one timeline. */
final case class Span(id: Int, parent: Int, job: Int, name: String,
                      startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1e3
}

/** Spans recorded by the benchmark's own code, kept in memory and written
  * out when the run ends. A disabled tracer runs the body and records
  * nothing, so the untraced run pays one branch per call. */
final class Tracer(@volatile var enabledNow: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var job: Int = -1

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Values a job reports about itself, as (job, name, value). */
  val notes = ArrayBuffer.empty[(Int, String, Double)]
  def note(name: String, value: Double): Unit = if (enabledNow) notes += ((job, name, value))

  def span[T](name: String)(body: => T): T =
    if (!enabledNow) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, job, name, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }
}

/** A listener record, assigned to a job by [[Listeners.settle]]. */
trait Stamped { var job: Int = Listeners.Pending }

/** Task-level facts from the SparkListener, one record per task. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, delayMs: Long, peakMem: Long,
                         shufWrite: Long, shufRead: Long, fetchWaitMs: Long,
                         spill: Long, inBytes: Long, outBytes: Long) extends Stamped

final case class JobRec(startMs: Long, var endMs: Long, stages: Int) extends Stamped

final case class PlanRec(analysisMs: Long, optimizationMs: Long, planningMs: Long, nodes: Int)
  extends Stamped

final case class StreamRec(startedMs: Long, var terminatedMs: Long,
                           var batches: Int, var addBatchMs: Long, var walCommitMs: Long,
                           var commitOffsetsMs: Long, var stateCommitMs: Long,
                           var stateRows: Long) extends Stamped

/** Listeners the benchmark registers from outside the program: scheduler
  * and task metrics, Catalyst phase times per executed query, and
  * micro-batch progress of every streaming query. */
final class Listeners extends SparkListener with QueryExecutionListener {
  /** Events arriving while inactive are dropped: untraced passes pay only
    * the listener-bus dispatch. */
  @volatile private var active = false
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val streams = scala.collection.mutable.LinkedHashMap.empty[java.util.UUID, StreamRec]

  /** Waits until the listener bus has delivered every queued event, then
    * changes whether events are kept, so no event is judged by a state
    * set after it was posted. */
  def setActive(sc: SparkContext, on: Boolean): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    active = on
  }

  /** Waits until the listener bus has delivered every queued event, then
    * assigns every record not yet assigned to `job`, or drops them when
    * `job` is negative. Events are delivered asynchronously, often after
    * the action that caused them has returned, so they are assigned by
    * draining after each job rather than by the time they arrive. */
  def settle(sc: SparkContext, job: Int): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    synchronized {
      val fresh = tasks.iterator ++ jobs.valuesIterator ++ plans.iterator ++ streams.valuesIterator
      if (job >= 0) fresh.filter(_.job == Listeners.Pending).foreach(_.job = job)
      else {
        tasks.filterInPlace(_.job != Listeners.Pending)
        jobs.filterInPlace((_, r) => r.job != Listeners.Pending)
        plans.filterInPlace(_.job != Listeners.Pending)
        streams.filterInPlace((_, r) => r.job != Listeners.Pending)
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    jobs(e.jobId) = JobRec(e.time, -1L, e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (active && m != null) {
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, delay, m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  private def record(qe: QueryExecution): Unit = if (active) {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = try qe.optimizedPlan.collect { case n => n }.size catch { case _: Throwable => 0 }
    synchronized {
      plans += PlanRec(ms("analysis"), ms("optimization"), ms("planning"), nodes)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // keyed by run id: a restarted query keeps its id but gets a new run
    // id; the first delivery of a start event wins
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (active) Listeners.this.synchronized {
      if (!streams.contains(e.runId))
        streams(e.runId) = StreamRec(System.currentTimeMillis(), -1L, 0, 0, 0, 0, 0, 0)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Listeners.this.synchronized {
      streams.get(e.progress.runId).foreach { r =>
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        r.batches += 1
        r.addBatchMs += ms("addBatch")
        r.walCommitMs += ms("walCommit")
        r.commitOffsetsMs += ms("commitOffsets")
        e.progress.stateOperators.foreach { s =>
          r.stateCommitMs += s.commitTimeMs
          r.stateRows = math.max(r.stateRows, s.numRowsTotal)
        }
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Listeners.this.synchronized {
      streams.get(e.runId).foreach(_.terminatedMs = System.currentTimeMillis())
    }
  }
}

object Listeners {
  /** The job of a record that no [[Listeners.settle]] has assigned yet. */
  val Pending: Int = Int.MinValue
}

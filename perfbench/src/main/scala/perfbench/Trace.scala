package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the run, on the same
  * epoch as the millisecond times Spark's listener events carry. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def us(): Long = baseUs + System.nanoTime() / 1000
}

/** In-memory span recorder for the traced mode.
  *
  * A span covers one call the benchmark makes into an engine layer: name,
  * layer, start and end (epoch us), the enclosing span on the same thread
  * and its own id. While a span is open, the thread's Spark job group is
  * the span id, so the jobs, stages and tasks that call causes can be
  * attributed to it from listener events. Spans are written out with the
  * run's record when the run ends; nothing is written while measuring.
  * With tracing off, `span` only runs its body.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _

  /** Bind the Spark context whose job group spans set (after each session). */
  def bind(spark: SparkSession): Unit = sc = spark.sparkContext

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val ctx = sc
      val prevGroup = if (ctx == null) null else ctx.getLocalProperty(Trace.GroupKey)
      if (ctx != null) ctx.setLocalProperty(Trace.GroupKey, id.toString)
      stack.set(id :: parents)
      val t0 = Clock.us()
      try body
      finally {
        val t1 = Clock.us()
        stack.set(parents)
        if (ctx != null) ctx.setLocalProperty(Trace.GroupKey, prevGroup)
        done.add(Map("id" -> id, "parent" -> parents.headOption.getOrElse(0L),
          "layer" -> layer, "name" -> name, "start_us" -> t0, "end_us" -> t1))
      }
    }

  def spans: Seq[Map[String, Any]] = done.asScala.toSeq
}

object Trace {
  val GroupKey = "spark.jobGroup.id"
}

/** Listener-side record of what Spark did: jobs with their job group and
  * interval, per-stage task aggregates, and the Catalyst phase times of
  * every executed query. Registered by the benchmark on its own session in
  * the traced mode only. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val qes = mutable.ArrayBuffer.empty[Map[String, Any]]

  final class StageAgg {
    var numTasks = 0; var submittedMs = 0L; var completedMs = 0L
    var failed = false; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty(Trace.GroupKey)).orNull
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "end_ms" -> e.time, "ok" -> true,
      "stages" -> e.stageIds.toList)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  private def agg(stageId: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((stageId, attempt), new StageAgg)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = agg(i.stageId, i.attemptNumber())
    a.numTasks = i.numTasks
    a.submittedMs = i.submissionTime.getOrElse(0L)
    a.completedMs = i.completionTime.getOrElse(0L)
    a.failed = i.failureReason.isDefined
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    a.tasks += 1
    if (info.failed || info.killed) a.failedTasks += 1
    val dur = info.finishTime - info.launchTime
    a.durationsMs += dur
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      // the Spark UI's scheduler-delay rule: task wall time not spent
      // deserializing, running, serializing or fetching the result
      val fetchMs =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def phases(qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    qes += Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "ok" -> ok)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe, ok = false)

  def record: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.toList.map { case ((id, att), a) =>
        Map("stage" -> id, "attempt" -> att, "num_tasks" -> a.numTasks,
          "submitted_ms" -> a.submittedMs, "completed_ms" -> a.completedMs,
          "failed" -> a.failed, "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
          "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "sched_delay_ms" -> a.schedDelayMs, "input_bytes" -> a.inputBytes,
          "shuffle_read_bytes" -> a.shuffleReadBytes,
          "shuffle_write_bytes" -> a.shuffleWriteBytes, "spill_bytes" -> a.spillBytes,
          "durations_ms" -> a.durationsMs.toList)
      },
      "qes" -> qes.toList)
  }
}

object SparkRecorder {
  def attach(spark: SparkSession): SparkRecorder = {
    val r = new SparkRecorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}

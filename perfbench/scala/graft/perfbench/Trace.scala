package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace tree: workload → op → step → build /
  * action → Spark job → stage. Times are epoch milliseconds (the clock
  * Spark's listener events carry); `attrs` holds per-stage task metrics
  * and per-op engine counters.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** A body's value with the duration and id of the span that timed it. */
final case class Timed[T](value: T, ms: Double, id: Long)

/** Records spans for the client thread and, when `traced`, the Spark
  * jobs and stages beneath them plus Catalyst phase and codegen time per
  * op. Untraced, `span` only times its body: no listener is registered
  * and nothing reaches Spark.
  *
  * A job's parent is the innermost span open on the client thread when
  * the job was submitted, carried to the scheduler as a local property
  * (Spark copies local properties into broadcast and subquery threads).
  */
final class Tracer(spark: SparkSession) {
  private val ParentKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  private var stack: List[Long] = Nil
  private val sc = spark.sparkContext

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var tracing = false

  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Times `body` as a span under the innermost open one. */
  def span[T](kind: String, name: String)(body: => T): Timed[T] = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val saved = sc.getLocalProperty(ParentKey)
    stack = id :: stack
    sc.setLocalProperty(ParentKey, id.toString)
    val start = nowMs
    try {
      val r = body
      val end = nowMs
      if (tracing) record(Span(id, parent, kind, name, start, end))
      Timed(r, end - start, id)
    } finally {
      stack = stack.tail
      sc.setLocalProperty(ParentKey, saved)
    }
  }

  def timed[T](kind: String, name: String)(body: => T): T = span(kind, name)(body).value

  /** The root span of a traced run: recorded even though tracing is
    * switched on and off for single ops beneath it.
    */
  def root[T](name: String, traced: Boolean)(body: => T): T = {
    val t = span("workload", name)(body)
    if (traced) record(Span(t.id, 0L, "workload", name, nowMs - t.ms, nowMs))
    t.value
  }

  // ---- listeners (registered only while tracing) --------------------------

  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job → (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]                // stage → job span
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  private var retries = 0L
  private var phaseMs = Map.empty[String, Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = ids.incrementAndGet()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(ParentKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (id, parent, e.time.toDouble)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        record(Span(id, parent, "job", s"job ${e.jobId}", start, e.time.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      if (info.attemptNumber > 0 || info.speculative) retries += 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        (info.finishTime - info.launchTime).toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val tasks = stageTasks.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
      if (si.attemptNumber() > 0) retries += 1
      for (start <- si.submissionTime; end <- si.completionTime) {
        val m = si.taskMetrics
        val sorted = tasks.sorted
        val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
        val attrs = Map(
          "tasks" -> si.numTasks.toDouble,
          "task_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_disk_b" -> m.diskBytesSpilled.toDouble,
          "input_b" -> m.inputMetrics.bytesRead.toDouble,
          "output_b" -> m.outputMetrics.bytesWritten.toDouble,
          "task_max_ms" -> (if (sorted.isEmpty) 0.0 else sorted.last),
          "task_median_ms" -> median)
        record(Span(ids.incrementAndGet(), stageJob.getOrElse(si.stageId, 0L), "stage",
          s"stage ${si.stageId}", start.toDouble, end.toDouble, attrs))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phaseMs = phaseMs.updated(phase, phaseMs.getOrElse(phase, 0.0) + (s.endTimeMs - s.startTimeMs))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    tracing = true
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    tracing = false
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListenerBus(sc)

  /** Per-op engine counters: resets before the op, read after a drain. */
  def resetOpCounters(): Unit = Tracer.this.synchronized { retries = 0; phaseMs = Map.empty }

  def opCounters(compileNanos: Long): Map[String, Double] = Tracer.this.synchronized {
    Map(
      "analysis_ms" -> phaseMs.getOrElse("analysis", 0.0),
      "optimization_ms" -> phaseMs.getOrElse("optimization", 0.0),
      "planning_ms" -> phaseMs.getOrElse("planning", 0.0),
      "codegen_ms" -> compileNanos / 1e6,
      "task_retries" -> retries.toDouble)
  }

  /** Attach counters to an already recorded span. */
  def annotate(id: Long, attrs: Map[String, Double]): Unit = spans.synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }
}

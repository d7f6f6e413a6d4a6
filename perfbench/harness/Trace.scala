package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans and Spark's own event times share one axis.
  */
object Clock {
  private val nano0  = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, start: Double, var end: Double)

/** In-memory spans around each layer call the benchmark makes. While a
  * span is open its id is the SparkContext local property [[Tracer.Key]],
  * so every job the call submits (streaming jobs too: the stream thread
  * inherits the property) carries the span that caused it.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val ids   = new AtomicLong()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(ids.incrementAndGet(), stack.headOption.fold(0L)(_.id), name, Clock.ms(), 0.0)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = Clock.ms()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer { val Key = "perfbench.span" }

/** Job, stage and task accounting through the public SparkListener API.
  * Task metrics are summed per stage; each stage belongs to the span of
  * the job that submitted it.
  */
final class EngineListener extends SparkListener {
  final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var shRecords = 0L; var spill = 0L
    var inBytes = 0L; var outBytes = 0L
  }
  val jobsStarted = new AtomicLong()
  val jobsEnded   = new AtomicLong()
  private val jobs      = mutable.Map[Int, (Long, Double, Double, Int)]() // span, start, end, stages
  private val stageSpan = mutable.Map[Int, Long]()
  private val stageAcc  = mutable.Map[Int, StageAcc]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).fold(0L)(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobs(e.jobId) = (span, e.time.toDouble, Double.NaN, e.stageIds.size)
    e.stageIds.foreach(stageSpan(_) = span)
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => jobs(e.jobId) = j.copy(_3 = e.time.toDouble) }
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRecords += m.shuffleWriteMetrics.recordsWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead; a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobRows: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.sortBy(_._1).map { case (id, (span, s, e, n)) =>
      Map("job" -> id, "span" -> span, "start" -> s, "end" -> e, "stages" -> n)
    }
  }

  def stageRows: Seq[Map[String, Any]] = synchronized {
    stageAcc.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("stage" -> id, "span" -> stageSpan.getOrElse(id, 0L), "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
        "shuffle_records" -> a.shRecords, "spill_bytes" -> a.spill,
        "input_bytes" -> a.inBytes, "output_bytes" -> a.outBytes)
    }
  }
}

/** Catalyst planning time per executed query, from QueryPlanningTracker.
  * Registered through `spark.sql.queryExecutionListeners`, so sessions
  * the program derives with `newSession()` report too.
  */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanListener.record(qe)
}

object PlanListener {
  @volatile var enabled = false
  val events = new ConcurrentLinkedQueue[(Double, Double)]() // start ms, plan ms

  def record(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      events.add((phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum.toDouble))
  }
}

/** Micro-batch timing (`durationMs.triggerExecution`) of every streaming
  * query, registered through `spark.sql.streaming.streamingQueryListeners`.
  */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (StreamListener.enabled) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ms = Option(p.durationMs.get("triggerExecution")).fold(p.batchDuration.toDouble)(_.doubleValue)
      StreamListener.events.add((start, ms))
    }
}

object StreamListener {
  @volatile var enabled = false
  val events = new ConcurrentLinkedQueue[(Double, Double)]() // start ms, batch ms
}

/** Turns tracing on for a measured region and collects what it saw. */
final class TraceSession(sc: SparkContext, tracer: Tracer) {
  private var engine: EngineListener = _

  def start(): Unit = {
    engine = new EngineListener
    sc.addSparkListener(engine)
    PlanListener.enabled = true
    StreamListener.enabled = true
    tracer.enabled = true
  }

  /** Stops tracing once the listener bus has delivered every event. */
  def stop(): Map[String, Any] = {
    tracer.enabled = false
    org.apache.spark.ListenerBusBridge.drain(sc)
    require(engine.jobsStarted.get == engine.jobsEnded.get,
      s"listener bus drained with ${engine.jobsStarted.get} jobs started but ${engine.jobsEnded.get} ended")
    PlanListener.enabled = false
    StreamListener.enabled = false
    sc.removeSparkListener(engine)
    val out = Map(
      "spans" -> tracer.spans.toSeq.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> engine.jobRows,
      "stages" -> engine.stageRows,
      "plans" -> PlanListener.events.asScala.toSeq.map { case (s, d) => Map("start" -> s, "ms" -> d) },
      "batches" -> StreamListener.events.asScala.toSeq.map { case (s, d) => Map("start" -> s, "ms" -> d) })
    PlanListener.events.clear()
    StreamListener.events.clear()
    tracer.spans.clear()
    out
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the run. Spans nest (run → pass → execution →
  * registry/build/action/clear); each carries a monotonic clock for its
  * duration and a wall clock (ms) so listener events, which Spark stamps
  * with wall-clock ms, can be attributed to it by time. */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory; nothing is written until the run ends. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Int] = Nil

  def start(name: String, kind: String): Span = {
    val s = new Span(spans.size, name, kind, open.headOption.getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s.id :: open
    s
  }

  def end(s: Span): Span = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    open = open.dropWhile(_ != s.id).drop(1)
    s
  }

  def span[T](name: String, kind: String)(body: Span => T): T = {
    val s = start(name, kind)
    try body(s) finally end(s)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Own time of a span: its duration less its children's. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum
}

final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, input: Long, output: Long)

final case class BatchRec(startMs: Long, triggerMs: Long, commitMs: Long)

/** Spark's public listeners, attached from outside the engine. Events are
  * queued as they arrive and attributed to spans by time at the end of the
  * run, which is exact with a single client. */
final class Listeners extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t: Long = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
    }
  }

  private def within(s: Span, t: Long): Boolean = t >= s.startMs && t <= s.endMs

  def jobsIn(s: Span): Int = jobs.asScala.count(t => within(s, t))
  def stagesIn(s: Span): Int = stages.asScala.count(t => within(s, t))
  def tasksIn(s: Span): Seq[TaskRec] = tasks.asScala.filter(t => within(s, t.finishMs)).toSeq
  def batchesIn(s: Span): Seq[BatchRec] = batches.asScala.filter(b => within(s, b.startMs)).toSeq

  /** Wall ms of `s` during which no task of the span was running. */
  def uncoveredMs(s: Span): Long = {
    val iv = tasksIn(s).map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (s.endMs - s.startMs) - covered)
  }
}

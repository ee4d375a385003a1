package layerbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/**
 * Spans recorded by the benchmark around its own calls into the engine's
 * layers. Spans live in memory until the run ends; nothing is written
 * while a phase is timed. Only the main thread opens spans, so the
 * parent is simply the innermost open span.
 */
object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startNs: Long, endNs: Long, startMs: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, layer, name, t0, System.nanoTime(), startMs)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: a span's duration minus the time its direct
    * children cover. Children of one span never overlap (one thread). */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupMapReduce(_.layer)(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  /** The wall-clock interval [startMs, endMs] of every span with this name. */
  def windows(name: String): Seq[(Long, Long)] =
    spans.filter(_.name == name).map(s => (s.startMs, s.startMs + (s.endNs - s.startNs) / 1000000 + 1)).toSeq
}

/** Per-stage task totals collected by [[StageListener]]. */
final class StageStats(val stageId: Int) {
  var submittedMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  /** Slowest task over the median task; 1 for stages of fewer than 4 tasks. */
  def skew: Double =
    if (taskMs.size < 4) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Registered only in traced runs: executor CPU, GC, shuffle, spill and
  * task times per stage, attributed to a benchmark phase afterwards by
  * the stage's submission time. */
final class StageListener extends SparkListener {
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageStats]
  @volatile private var events = 0L

  private def stats(id: Int) = stages.getOrElseUpdate(id, new StageStats(id))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stats(e.stageInfo.stageId).submittedMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(e.stageId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    events += 1
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (events != last && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(250)
    }
  }

  /** Stages submitted inside any of the given wall-clock windows. */
  def within(windows: Seq[(Long, Long)]): Seq[StageStats] = synchronized {
    stages.values.filter(s => windows.exists { case (a, b) =>
      s.submittedMs >= a && s.submittedMs <= b }).toSeq
  }

  def allStages: Seq[StageStats] = synchronized(stages.values.toSeq.sortBy(_.stageId))
}

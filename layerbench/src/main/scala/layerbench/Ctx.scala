package layerbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** What one timed action returned: its result, wall time, the CPU time
  * of the JVM's threads over that wall time and, when plans were
  * captured, its executed plans. */
final case class Done[T](value: T, seconds: Double, cpuSeconds: Double, plans: Seq[SparkPlan])

/** Attempted and failed operations (a failed action, a failed plan
  * guard or a mismatched check) of one run, over all phases. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]

  def attempt(): Unit = synchronized(attempted += 1)

  def fail(msg: String): Unit = synchronized {
    failed += 1
    Main.log(s"FAILED $msg")
    if (problems.size < 20) problems += msg
  }
}

/**
 * What one phase works with: its own Spark session (all sessions share
 * one SparkContext; a session of its own gives the phase its own plan
 * capture, so phases can warm up concurrently), the seed, the work
 * directory inside the checkout and the run's tally.
 */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: java.io.File,
    val tally: Tally) {
  val capture = new PlanCapture
  spark.listenerManager.register(capture)
  /** Plans are checked on the untimed warm-up pass only. */
  var guarding = false

  def fail(msg: String): Unit = tally.fail(msg)

  /** Count one check; record a mismatch. */
  def expect(ok: Boolean, what: => String): Unit = {
    tally.attempt()
    if (!ok) fail(what)
  }

  /**
   * Run one timed action inside a trace span. While guarding, the
   * action's executed plans must contain every token of `expected`
   * (its st_* expressions and its sink); in traced runs the plans are
   * kept for their SQL metrics. `actions` is how many Spark actions the
   * body runs at least. Returns None when the action threw.
   */
  def act[T](layer: String, name: String, expected: Seq[String], actions: Int = 1)(
      body: => T): Option[Done[T]] = {
    tally.attempt()
    val keep = guarding || Trace.enabled
    var secs, cpu = 0.0
    def timed: T = Trace.span(layer, name) {
      val c0 = Ctx.threadCpu()
      val t0 = System.nanoTime()
      val v = body
      secs = (System.nanoTime() - t0) / 1e9
      cpu = Ctx.cpuSince(c0) / 1e9
      v
    }
    try {
      val (v, plans) = if (keep) capture.capture(actions)(timed) else (timed, Nil)
      if (guarding) {
        val miss = Plans.missing(plans, expected)
        if (miss.nonEmpty) {
          fail(s"plan guard: $name lost ${miss.mkString(",")}")
          plans.foreach(p => Main.log(p.treeString.take(3000)))
        }
      }
      Main.log(f"$name%-28s $secs%.3fs $cpu%.3f cpu_s")
      Some(Done(v, secs, cpu, plans))
    } catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }
}

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /**
   * CPU time so far of every live Java thread: Spark's task threads and
   * the threads that plan and commit its queries. The JIT's compiler
   * threads and the collector's threads are not Java threads, so their
   * catch-up work after the warm-up is not in it; nor is time the host
   * takes from the JVM's virtual CPUs (steal), which is in wall time.
   */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU nanoseconds the threads spent since `before`; a thread that
    * ended in between is not counted. */
  def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  /** Every timed action that ends in a query writes to this sink, so
    * that every projected column is computed. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

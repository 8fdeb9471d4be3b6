package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{GraftListenerSync, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top), `run` the operation the span belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body, so an
  * untraced run pays nothing. Spans are written out once, at the end.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var run = 0

  def nextRun(): Unit = run += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), run, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the time its direct children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ms" -> selfMs(s))
  }
}

/** Benchmark-owned listener: Spark's job/task counters, summed. Read
  * through [[snapshot]] after [[drain]], never after a sleep.
  */
final class SparkCounters extends SparkListener {
  private val c = Seq("jobs", "tasks", "task_failures", "scheduler_delay_ms",
    "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes")
    .map(_ -> new AtomicLong()).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    c("tasks").incrementAndGet()
    if (e.reason != Success || info.attemptNumber > 0)
      c("task_failures").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("executor_run_ms").addAndGet(m.executorRunTime)
      c("executor_cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      // the Spark UI's definition: wall time the task spent outside its
      // own run, deserialisation and result handling
      c("scheduler_delay_ms").addAndGet(math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime))
    }
  }

  def drain(sc: SparkContext): Unit =
    require(GraftListenerSync.waitUntilEmpty(sc, 60000L),
      "listener bus did not drain within 60 s")

  def snapshot(sc: SparkContext): Map[String, Long] = {
    drain(sc)
    c.map { case (k, v) => k -> v.get }
  }
}

/** Files and bytes read per file-source scan, from the executed plans of
  * finished queries (AQE stages included). Read after [[SparkCounters.drain]].
  */
final class ScanFiles extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val scans = ArrayBuffer.empty[(Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        scans += ((metric("numFiles"), metric("filesSize")))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** (files, bytes) of every scan since the last call. */
  def take(): Seq[(Long, Long)] = synchronized {
    val out = scans.toList
    scans.clear()
    out
  }
}

object Counters {
  def install(spark: SparkSession): (SparkCounters, ScanFiles) = {
    val counters = new SparkCounters
    val scans = new ScanFiles
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(scans)
    (counters, scans)
  }
}

package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval in epoch milliseconds. `parent` is the enclosing
  * benchmark span for spans the benchmark opens itself, and empty for spans
  * reported by Spark's listeners; those get their parent by interval
  * containment when the trace is read (perfbench/stats.py).
  */
final case class Span(op: Int, name: String, start: Double, end: Double, parent: String)

/** Spans and per-op counters, held in memory and written out when the run
  * ends. The benchmark's own spans wrap each public call into a layer; the
  * listeners below add Spark's jobs, Catalyst phases and stream triggers.
  * With tracing off for the current op every method is a pass-through.
  */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var op: Int = -1
  @volatile var tracing: Boolean = false
  private val open = mutable.Stack.empty[String]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val parent = open.headOption.getOrElse("")
      open.push(name)
      val start = nowMs
      try body
      finally {
        open.pop()
        spans.add(Span(op, name, start, nowMs, parent))
      }
    }

  def record(name: String, start: Double, end: Double): Unit =
    if (tracing) spans.add(Span(op, name, start, end, ""))

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = synchronized {
    counters(name) = math.max(counters.getOrElse(name, v), v)
  }
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  /** Counters and samples of the op just finished; clears both. */
  def takeCounters(): (Map[String, Double], Map[String, Seq[Double]]) = synchronized {
    val out = (counters.toMap, samples.map { case (k, v) => k -> v.toSeq }.toMap)
    counters.clear(); samples.clear()
    out
  }
}

/** Jobs, stages and task metrics of the current op. */
final class ExecListener(tr: Tracer) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    tr.add("exec.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => tr.record("exec.job", s.toDouble, e.time.toDouble))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = tr.add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tr.add("exec.tasks", 1)
      tr.add("exec.task_run_s", m.executorRunTime / 1e3)
      tr.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      tr.add("exec.task_gc_s", m.jvmGCTime / 1e3)
      tr.max("exec.max_task_s", m.executorRunTime / 1e3)
      tr.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tr.add("exec.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      tr.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      tr.add("exec.result_bytes", m.resultSize.toDouble)
      tr.add("exec.records_read", m.inputMetrics.recordsRead.toDouble)
      tr.add("io.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Catalyst phase times of every query the op executes (`qe.tracker`). */
final class CatalystListener(tr: Tracer) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      tr.record(s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      tr.add(s"catalyst.${name}_s", (p.endTimeMs - p.startTimeMs) / 1e3)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

/** Per-trigger `durationMs` phases of every stream the op runs. */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
    val trig = d.getOrElse("triggerExecution", 0.0)
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    tr.record("stream.trigger", start, start + trig * 1e3)
    tr.add("stream.triggers", 1)
    tr.sample("stream.trigger_s", trig)
    Seq("addBatch" -> "add_batch", "latestOffset" -> "latest_offset",
      "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
      "triggerExecution" -> "trigger_execution").foreach { case (k, name) =>
      tr.add(s"stream.${name}_s", d.getOrElse(k, 0.0))
    }
  }
}

/** Registers the three listeners around a traced op and removes them after
  * the listener bus has delivered every event of that op.
  */
final class Listeners(spark: SparkSession, tr: Tracer) {
  private val exec = new ExecListener(tr)
  private val catalyst = new CatalystListener(tr)
  private val stream = new StreamListener(tr)

  def attach(): Unit = {
    // events of the untraced op before must not land in this one
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
  }
}

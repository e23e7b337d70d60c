package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.{ListenerBusFlush => Flush}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans (name, start, end, parent, iteration)
  * sit around the benchmark's own calls into each layer and stay in
  * memory until the run ends. Listener data comes from Spark's public
  * `SparkListener`, `StreamingQueryListener` and `QueryExecutionListener`;
  * every event is attributed to the innermost span open when it is
  * processed. The listener bus is drained at each span boundary, so an
  * event posted inside a span is always processed inside it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def current: Option[Span] = synchronized(open.headOption)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      current.foreach { s =>
        jobStart(e.jobId) = (s.id, e.time)
        e.stageIds.foreach(stageSpan(_) = s.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (sid, t0) =>
        spans(sid).jobs += ((t0, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpan.get(e.stageId).orElse(current.map(_.id)).foreach { sid =>
        val c = spans(sid).counters
        def add(k: String, v: Long): Unit = c(k) = c.getOrElse(k, 0L) + v
        add("task_cpu_ns", m.executorCpuTime)
        add("task_run_ms", m.executorRunTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_records", m.inputMetrics.recordsRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_records", m.outputMetrics.recordsWritten)
        add("tasks", 1L)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        current.foreach { s =>
          val p = e.progress
          val d = p.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          val c = s.counters
          def add(k: String, v: Long): Unit = c(k) = c.getOrElse(k, 0L) + v
          def peak(k: String, v: Long): Unit = c(k) = c.getOrElse(k, 0L).max(v)
          add("batches", 1L)
          add("input_rows", p.numInputRows)
          add("latest_offset_ms", ms("latestOffset"))
          add("get_batch_ms", ms("getBatch"))
          add("query_planning_ms", ms("queryPlanning"))
          add("add_batch_ms", ms("addBatch"))
          add("wal_commit_ms", ms("walCommit"))
          add("commit_offsets_ms", ms("commitOffsets"))
          add("trigger_ms", ms("triggerExecution"))
          p.stateOperators.foreach { so =>
            peak("state_rows_peak", so.numRowsTotal)
            peak("state_mem_bytes_peak", so.memoryUsedBytes)
            add("state_commit_ms", so.commitTimeMs)
          }
          val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
          s.triggers += ((t0, t0 + ms("triggerExecution")))
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        current.foreach { s =>
          val c = s.counters
          def add(k: String, v: Long): Unit = c(k) = c.getOrElse(k, 0L) + v
          val phases = qe.tracker.phases
          add("planning_ms", phases.values.map(_.durationMs).sum)
          add("exec_ns", durationNs)
          add("actions", 1L)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    Flush(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` inside a span named `name` for iteration `iter`. */
  def span[A](name: String, iter: Int)(body: => A): A = {
    Flush(spark)
    val s = synchronized {
      val sp = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), iter)
      spans += sp
      open.push(sp)
      sp
    }
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      Flush(spark)
      synchronized(open.pop())
    }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, iter: Int) {
    var startMs = 0L
    var endMs = 0L
    var startNs = 0L
    var endNs = 0L
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val triggers = mutable.ArrayBuffer.empty[(Long, Long)]
    val counters = mutable.Map.empty[String, Long]
    def wallMs: Double = (endNs - startNs) / 1e6
    def c(k: String): Long = counters.getOrElse(k, 0L)

    /** Length of the union of `intervals`, clipped to this span. */
    def coveredMs(intervals: Iterable[(Long, Long)]): Long = {
      val clipped = intervals.map { case (a, b) =>
        (a.max(startMs), b.min(endMs)) }.filter { case (a, b) => b > a }
        .toVector.sortBy(_._1)
      var total = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = curB.max(b)
      }
      if (curB > curA) total += curB - curA
      total
    }

    /** Wall time outside every Spark job: driver-side work. */
    def driverOnlyMs: Double = (wallMs - coveredMs(jobs)).max(0.0)

    /** Wall time covered neither by a Spark job nor by a streaming
      * trigger's reported phases. */
    def unattributedMs: Double = (wallMs - coveredMs(jobs ++ triggers)).max(0.0)

    def toJson: Map[String, Any] = Map("id" -> id, "name" -> name,
      "parent" -> parent, "iter" -> iter, "start_ms" -> startMs,
      "end_ms" -> endMs, "wall_ms" -> wallMs, "jobs" -> jobs.size,
      "driver_only_ms" -> driverOnlyMs, "unattributed_ms" -> unattributedMs,
      "counters" -> counters.toMap)
  }
}

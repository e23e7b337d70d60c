package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.SortedMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** graft's one measurement layer: named scopes around the library's own
  * phases, and one [[Recorder]] that files Spark's listener events under
  * them. With no recorder attached, [[scope]] only runs its body. With one,
  * it stamps the scope on the calling thread as the local property
  * [[ScopeKey]], which Spark copies into every job the thread submits and
  * into every thread it starts (a streaming query's, the quarantine route's
  * main-merge chain). Counter names are perfbench's (`Trace.scala`).
  */
object Obs {
  val ScopeKey = "graft.obs.scope"

  @volatile private[obs] var active: Option[Recorder] = None
  private[obs] val ids = new AtomicLong()

  /** `body` as the phase `name`, nested in the scope open on this thread. */
  def scope[A](name: String)(body: => A): A = active.fold(body)(_.scope(name)(body))

  /** `body` with a fresh recorder attached, and that recorder's layers. */
  def record[A](spark: SparkSession)(body: => A): (A, SortedMap[String, Map[String, Long]]) = {
    val r = new Recorder(spark).attach()
    val a = try body finally r.detach()
    (a, r.layers)
  }
}

/** Files each event by what it carries, never by what is open when it
  * arrives: a job by its properties, a task by its stage's job, a SQL
  * execution's planning by its execution id (its end event carries the
  * query execution; a `QueryExecutionListener` gets no execution id), and a
  * streaming progress by its run id, which `onQueryStarted` (run
  * synchronously on the new query's thread) tied to a scope. A late
  * progress event still counts there.
  */
final class Recorder(spark: SparkSession) {
  private final class Scope(val path: String, val parent: Option[Scope]) {
    val (startMs, startNs) = (System.currentTimeMillis(), System.nanoTime())
    var endMs, endNs = 0L
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def add(kv: (String, Long)*): Unit = kv.foreach { case (k, v) => counters(k) += v }
    def peak(k: String, v: Long): Unit = counters(k) = counters(k).max(v)
  }

  // guarded by this recorder's lock
  private val scopes = mutable.Map.empty[String, Scope]
  private val jobStart = mutable.Map.empty[Int, (Scope, Long)]
  private val stages = mutable.Map.empty[Int, Scope]
  private val executions = mutable.Map.empty[Long, Scope]
  private val runs = mutable.Map.empty[java.util.UUID, Scope]

  private def scopeOf(id: String): Option[Scope] = Option(id).flatMap(scopes.get)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => scopeOf(p.getProperty(Obs.ScopeKey))).foreach { s =>
        jobStart(e.jobId) = (s, e.time)
        e.stageIds.foreach(stages(_) = s)
        props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach(id => executions.getOrElseUpdate(id.toLong, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) => s.jobs += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach(_.add("task_cpu_ns" -> m.executorCpuTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Recorder.this.synchronized {
        executions.get(end.executionId).zip(ListenerBus.planning(end)).foreach {
          case (s, (planningMs, ns)) => s.add("planning_ms" -> planningMs, "exec_ns" -> ns)
        }
      }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = Recorder.this.synchronized {
      scopeOf(spark.sparkContext.getLocalProperty(Obs.ScopeKey)).foreach(runs(e.runId) = _)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      runs.get(p.runId).foreach { s =>
        s.add("batches" -> 1L, "input_rows" -> p.numInputRows,
          "latest_offset_ms" -> ms("latestOffset"), "get_batch_ms" -> ms("getBatch"),
          "query_planning_ms" -> ms("queryPlanning"), "add_batch_ms" -> ms("addBatch"),
          "wal_commit_ms" -> ms("walCommit"), "commit_offsets_ms" -> ms("commitOffsets"),
          "trigger_ms" -> ms("triggerExecution"))
        p.stateOperators.foreach { so =>
          s.peak("state_rows_peak", so.numRowsTotal)
          s.peak("state_mem_bytes_peak", so.memoryUsedBytes)
          s.add("state_commit_ms" -> so.commitTimeMs)
        }
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Registers each listener that is not yet, and makes [[Obs.scope]] stamp for this. */
  def attach(): this.type = {
    if (!ListenerBus.registered(spark, sparkListener))
      spark.sparkContext.addSparkListener(sparkListener)
    if (!spark.streams.listListeners().contains(streamListener))
      spark.streams.addListener(streamListener)
    Obs.active = Some(this)
    this
  }

  /** Stops stamping, lets every event posted so far land, and unregisters. */
  def detach(): Unit = {
    Obs.active = None
    ListenerBus.flush(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  private[obs] def scope[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Obs.ScopeKey)
    val id = Obs.ids.incrementAndGet().toString
    val s = synchronized {
      val parent = scopeOf(outer)
      scopes.getOrElseUpdate(id, new Scope(parent.fold(name)(_.path + "." + name), parent))
    }
    sc.setLocalProperty(Obs.ScopeKey, id)
    try body
    finally {
      synchronized { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }
      sc.setLocalProperty(Obs.ScopeKey, outer)
    }
  }

  /** Per closed scope path (names joined by '.'), summed over its calls:
    * `calls`, `wall_ms`, `jobs`, `driver_only_ms` (wall outside every job
    * of the scope and of the scopes in it) and the listener counters, of
    * which a `*_peak` is the maximum. */
  def layers: SortedMap[String, Map[String, Long]] = {
    ListenerBus.flush(spark)
    synchronized {
      val closed = scopes.values.filter(_.endNs != 0L)
      val kids = closed.groupBy(_.parent)
      def jobsUnder(s: Scope): Iterable[(Long, Long)] =
        s.jobs ++ kids.getOrElse(Some(s), Nil).flatMap(jobsUnder)
      SortedMap.from(closed.groupBy(_.path).view.mapValues { calls =>
        val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
        calls.foreach { s =>
          s.counters.foreach { case (k, v) => c(k) = if (k.endsWith("_peak")) c(k).max(v) else c(k) + v }
          // the union of the jobs' intervals, clipped to the scope
          val covered = jobsUnder(s).map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }
            .toSeq.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
              (sum + (b - a.max(reach)).max(0L), reach.max(b)) }._1
          val wall = (s.endNs - s.startNs) / 1000000L
          c("calls") += 1
          c("wall_ms") += wall
          c("jobs") += s.jobs.size
          c("driver_only_ms") += (wall - covered).max(0L)
        }
        c.toMap
      })
    }
  }
}

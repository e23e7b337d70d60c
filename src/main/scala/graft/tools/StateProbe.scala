package graft.tools

import graft.GraftSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-trigger STATE-STORE attribution for the stateful drain queries
  * (r18 verdict item 4: "verify q85's watermark/interval condition
  * prunes both sides' state to the minimum the join contract needs" —
  * and the same question for every other stateful drain). Runs the
  * DECLARED query functions unmodified and records, per trigger, the
  * engine's own `StreamingQueryProgress.stateOperators` numbers
  * (rows total/updated/removed, memory, commit time) plus the
  * durationMs split — so claims about state size are measured from the
  * real path, never estimated.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf0.1 data dir> \
  *          sbt "runMain graft.tools.StateProbe q85 q89 q80"
  * (session per [[graft.GraftSession]]: `local[SPARK_GRAFT_CPUS or nproc]`
  * unless `-Dspark.master` names one). Prints one JSON line per (query,
  * trigger) with state metrics and a per-query wall/cpu line.
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-state-probe")
    val all = graft.SparkEntry.queries
    val names = graft.SparkEntry.queryNames(args.toSeq)

    // one JSON line per trigger, buffered under a lock (listener bus is
    // async); flushed after each query's quiescence wait. Each event is
    // filed under the query that STARTED its stream: onQueryStarted runs
    // synchronously inside start(), on the thread running query
    // `current`, so the run id → name map is exact, and an event that
    // lands after the poll cap keeps its own query's name.
    val lines = mutable.ArrayBuffer.empty[String]
    var current = "none"
    val nameOf = mutable.Map.empty[java.util.UUID, String]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        lines.synchronized { nameOf(e.runId) = current }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        lines.synchronized {
          val p = e.progress
          val dur = p.durationMs.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          val ops = p.stateOperators.zipWithIndex.map { case (o, i) =>
            s"""{"op":"${o.operatorName}","i":$i,""" +
              s""""rows_total":${o.numRowsTotal},""" +
              s""""rows_updated":${o.numRowsUpdated},""" +
              s""""rows_removed":${o.numRowsRemoved},""" +
              s""""mem_bytes":${o.memoryUsedBytes},""" +
              s""""commit_ms":${o.commitTimeMs}}"""
          }.mkString("[", ",", "]")
          val q = nameOf.getOrElse(p.runId, "unknown")
          lines += s"""{"probe":"state","q":"$q","batch":${p.batchId},""" +
            s""""rows_in":${p.numInputRows},"durationMs":$dur,""" +
            s""""stateOperators":$ops}"""
        }
    }
    spark.streams.addListener(listener)
    def flush(): Unit = lines.synchronized { lines.foreach(println); lines.clear() }
    names.foreach { n =>
      lines.synchronized { current = n }
      val c = GraftSession.cost {
        all(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      GraftSession.awaitListenerQuiet(() => lines.synchronized(lines.size))
      flush()
      println(f"""{"probe":"state_total","q":"$n","wall":${c.wallSec}%.2f,""" +
        f""""cpu":${c.cpuSec}%.2f}""")
    }
    spark.streams.removeListener(listener)
    flush() // events that arrived after the last query's poll cap
    System.out.flush()
    spark.stop()
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-entry counters from the listener bus. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
}

/** Attributes every job, task and planned query to the entry that ran it,
  * from outside the engine: jobs by the job group the harness sets per
  * entry, tasks by the job that owns their stage, and planning phases to
  * the entry running when the query finished (the harness drains the bus
  * after each entry, so no event crosses into the next one). */
final class LayerTrace(groupPrefix: String) extends SparkListener
    with QueryExecutionListener {
  @volatile var current: String = ""
  private val byEntry = new ConcurrentHashMap[String, Counters]()
  private val stageEntry = new ConcurrentHashMap[Int, String]()
  /** Jobs whose group did not name an entry; charged to `current`. */
  @volatile var ungrouped = 0L

  private def acc(entry: String): Counters =
    byEntry.computeIfAbsent(entry, _ => new Counters)

  def counters(entry: String): Counters = acc(entry)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val entry = group.filter(_.startsWith(groupPrefix))
      .map(_.stripPrefix(groupPrefix)).getOrElse { ungrouped += 1; current }
    val c = acc(entry)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(stageEntry.put(_, entry))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val entry = Option(stageEntry.get(e.stageId)).getOrElse(current)
    val c = acc(entry)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    val c = acc(current)
    c.synchronized { c.planMs += ms }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

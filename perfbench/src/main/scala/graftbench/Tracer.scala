package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job-group counters: what one query phase cost the cluster. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var sqlExecs = 0L

  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskCpuNs += o.taskCpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleBytes += o.shuffleBytes; sqlExecs += o.sqlExecs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_cpu_s" -> taskCpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "sched_delay_s" -> schedDelayMs / 1e3,
    "shuffle_bytes" -> shuffleBytes,
    "sql_execs" -> sqlExecs)
}

/** Planning time of every `noop` write, in the order the writes ran,
  * read from the write's own `QueryPlanningTracker` (the plan that ran,
  * not a second planning). Other executions are ignored. */
final class WritePlanTimes extends QueryExecutionListener {
  private val planMs = ArrayBuffer.empty[Long]

  private def record(qe: QueryExecution): Unit = qe.logical match {
    case w: V2WriteCommand if w.table.toString.toLowerCase.contains("noop") =>
      synchronized(planMs += qe.tracker.phases.values.map(_.durationMs).sum)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def size: Int = synchronized(planMs.size)

  /** Plan seconds of writes `from` until `from + n`, waiting up to
    * `maxMs` for their events to arrive. */
  def slice(from: Int, n: Int, maxMs: Long = 10000): Seq[Double] = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (size < from + n && System.nanoTime() < deadline) Thread.sleep(20)
    synchronized(planMs.slice(from, from + n).map(_ / 1e3).toSeq)
  }
}

/** A SparkListener that attributes jobs and task metrics to the
  * job group that was set on the calling thread when the work started.
  *
  * Only public listener events are used: job start (group from the job
  * properties), task end (task metrics), and the SQL execution
  * start/end events (to know when delivery has caught up).
  */
final class Tracer extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val ExecKey = "spark.sql.execution.id"
  private val stageGroup = TrieMap.empty[Int, String]
  private val execGroup = TrieMap.empty[Long, String]
  private val stats = TrieMap.empty[String, GroupStats]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var jobsOpen = 0L
  @volatile private var sqlOpen = 0L

  private def of(g: String): GroupStats = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobsOpen += 1
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("-")
    props.flatMap(p => Option(p.getProperty(ExecKey))).foreach(id =>
      execGroup.putIfAbsent(id.toLong, g))
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    jobsOpen -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val s = of(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      if (info != null && info.finished) {
        val total = info.finishTime - info.launchTime
        s.schedDelayMs += math.max(0L, total - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      lastEventNs = System.nanoTime()
      sqlOpen += 1
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      lastEventNs = System.nanoTime()
      sqlOpen -= 1
      of(execGroup.getOrElse(x.executionId, "-")).sqlExecs += 1
    }
    case _ =>
  }

  /** Block until every started job and SQL execution has been seen to
    * end and the bus has been quiet for a moment (listener delivery is
    * asynchronous), or until the deadline. */
  def quiesce(maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def idle = synchronized {
      jobsOpen <= 0 && sqlOpen <= 0 &&
        System.nanoTime() - lastEventNs > 300L * 1000000L
    }
    while (!idle && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def group(g: String): GroupStats = synchronized {
    val out = new GroupStats
    stats.get(g).foreach(out += _)
    out
  }

  def unscoped: GroupStats = group("-")

  /** Everything seen, whatever the group (a streaming query sets its own). */
  def total: GroupStats = synchronized {
    val out = new GroupStats
    stats.values.foreach(out += _)
    out
  }
}

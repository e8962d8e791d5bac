package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` groups every span of one operation; `parent` is
  * the enclosing span's id, or -1 for a top-level span. Times are epoch
  * nanoseconds so they line up with Spark's listener timestamps.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Operation latencies (always) and, when tracing, one span per operation
  * and per phase plus the Spark-side events each span's time window holds.
  * Spans stay in memory until the run writes them once at the end.
  */
final class Recorder(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L

  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var nextOp = 0
  private var open: List[Span] = Nil
  private var currentOp = -1

  /** Spark-side events, recorded only while tracing is on. */
  val events = new SparkEvents
  private val queryListener = events.queryListener(this)
  private var tracing = false

  /** Turn the listeners on or off. Untraced runs never register them.
    * Turning off first waits until every event posted so far has arrived.
    */
  def trace(on: Boolean): Unit = if (on != tracing) {
    tracing = on
    if (on) {
      spark.sparkContext.addSparkListener(events.sparkListener)
      spark.listenerManager.register(queryListener)
    } else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(events.sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
  }

  /** A span around `body`. At the top level it opens a new operation; while
    * tracing, the operation's jobs also carry its id as their job group, a
    * cross-check on the time-window attribution.
    */
  def span[T](name: String)(body: => T): T = {
    val top = open.isEmpty
    if (top) {
      currentOp = nextOp
      nextOp += 1
      if (tracing) spark.sparkContext.setJobGroup(SparkEvents.group(currentOp), name)
    }
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = Span(id, currentOp, name, parent, now(), 0L)
    open = s :: open
    try body
    finally {
      open = open.tail
      spans += s.copy(end = now())
      if (top) spark.sparkContext.clearJobGroup()
    }
  }
}

object SparkEvents {
  final case class Job(id: Int, start: Long, var end: Long, stages: Int, group: Option[String])
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, inRows: Long, inBytes: Long, shRead: Long, shWrite: Long,
      spill: Long, outBytes: Long)
  final case class Query(start: Long, analysis: Double, optimization: Double,
      planning: Double, postingsRows: Long)

  def group(op: Int): String = s"perfbench-op-$op"
}

/** Raw Spark events of a traced run, kept as plain records. */
final class SparkEvents {
  import SparkEvents._

  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  private def ms(t: Long): Long = t * 1000000L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val j = Job(e.jobId, ms(e.time), 0L, e.stageInfos.size, group)
      jobById.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = ms(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(Task(e.stageId, ms(i.launchTime), ms(i.finishTime),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }

  def queryListener(rec: Recorder): QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def sec(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      // Rows the pruned postings scans produced: the kNN read path's work.
      val postings = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "postings") =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      // Analysis runs when the frame is built; optimization and planning
      // run at the action. The last phase places the plan in its operation.
      val start = if (phases.isEmpty) rec.now() else ms(phases.values.map(_.startTimeMs).max)
      queries.add(Query(start, sec("analysis"), sec("optimization"), sec("planning"), postings))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

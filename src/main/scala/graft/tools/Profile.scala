package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, Readers, SparkEntry}
import graft.operators.Materialize

/** Dev profiler on the bench's own session ([[graft.Bench.session]]), so its
  * numbers sit beside the bench's. Not part of any gate.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=DIR sbt "runMain graft.tools.Profile OUTDIR [query ...]"`
  * (no query names = the full gate surface).
  *
  * Per query: one cold call, where `ensure*` store and index builds show,
  * then [[TimedReps]] reps of fresh builds, the public default (no
  * prepared-instance reuse). Each action is a `noop` write, which
  * materializes every output column. Per call it prints the
  * construction wall apart from the action's, the action's optimization and
  * planning time from its `QueryExecution.tracker`, the prepared scans it
  * reused and prepared ([[graft.Readers.prepared]]) and the resident blocks
  * held after it, every job with its
  * `[start -> end]` offsets from the call's start and its tasks' summed
  * `inputMetrics.recordsRead` (a kNN probe's rows read), and one line of task
  * metrics per stage; after the reps, the Catalyst rule-time ranking over
  * the timed reps. The last rep's final adaptive plan is written to
  * `OUTDIR/<query>.txt`, a failure to `OUTDIR/<query>.ERROR.txt`.
  */
object Profile {

  val TimedReps = 3

  /** Rules shown from the top of the rule-time ranking (after its four
    * header lines).
    */
  val RankedRules = 15

  /** Start and end are seconds from the start of the call. */
  final case class Job(id: Int, start: Double, end: Double, rows: Long)

  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, runMs: Long,
      cpuMs: Long, gcMs: Long, deserMs: Long, serMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** `scans` counts the call's prepared-scan reuses and preparations
    * ([[graft.Readers.scanStats]]); `resident` the prepared scans' resident
    * blocks held after the call and their bytes in memory
    * (`SparkContext.getRDDStorageInfo` of [[graft.Readers.residentRdds]]).
    */
  final case class Rep(label: String, constructS: Double, actionS: Double,
      optimizationS: Double, planningS: Double, jobs: Seq[Job], stages: Seq[Stage],
      scans: (Long, Long), resident: (Int, Long))

  /** `rules` holds the ranking's lines; `error` the failure that ended the query. */
  final case class Report(query: String, reps: Seq[Rep], rules: Seq[String],
      error: Option[Throwable])

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile OUTDIR [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the fixture directory to profile"))
    val outDir = Paths.get(args(0))
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(outDir)
    val spark = Bench.session()
    try names.foreach(n => render(profile(spark, sfDir, n, outDir)).foreach(println))
    finally spark.stop()
  }

  /** Profiles one query on `spark` and writes its plan (or failure) to `outDir`. */
  def profile(spark: SparkSession, sfDir: String, query: String, outDir: Path): Report = {
    val events = new Events
    spark.sparkContext.addSparkListener(events)
    spark.listenerManager.register(events)
    val reps = ArrayBuffer[Rep]()
    // One call: build, act, release. Returns the action's execution, which
    // is the last one to end in the call.
    def call(label: String): QueryExecution = {
      ListenerDrain.drain(spark.sparkContext)
      events.clear()
      val epochMs = System.currentTimeMillis()
      val (reused0, prepared0) = Readers.scanStats
      val t0 = System.nanoTime()
      val (constructS, actionS) =
        try {
          val df = SparkEntry.queries(query)(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        } finally Materialize.releaseAll()
      ListenerDrain.drain(spark.sparkContext)
      val action = events.executions.getLast
      def sec(phase: String): Double =
        action.tracker.phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)
      val (reused, prepared) = Readers.scanStats
      val resident = Readers.residentRdds
      val cached = spark.sparkContext.getRDDStorageInfo.filter(i => resident(i.id))
      reps += Rep(label, constructS, actionS, sec("optimization"), sec("planning"),
        events.jobs(epochMs), events.stages(), (reused - reused0, prepared - prepared0),
        (cached.map(_.numCachedPartitions).sum, cached.map(_.memSize).sum))
      action
    }
    def write(name: String, text: String): Unit =
      Files.write(outDir.resolve(name), text.getBytes(UTF_8))
    try {
      call("cold")
      RuleExecutor.resetMetrics()
      val last = (1 to TimedReps).map(i => call(s"rep $i")).last
      write(s"$query.txt", last.executedPlan.toString)
      val rules = RuleExecutor.dumpTimeSpent().linesIterator
        .map(_.stripTrailing()).filter(_.nonEmpty).take(4 + RankedRules).toSeq
      Report(query, reps.toSeq, rules, None)
    } catch {
      case NonFatal(e) =>
        write(s"$query.ERROR.txt", e.toString)
        Report(query, reps.toSeq, Nil, Some(e))
    } finally {
      spark.listenerManager.unregister(events)
      spark.sparkContext.removeSparkListener(events)
    }
  }

  def render(r: Report): Seq[String] = {
    val calls = r.reps.flatMap { p =>
      val head = f"  ${p.label}%-5s  construct ${p.constructS}%.3f s  action ${p.actionS}%.3f s" +
        f"  optimization ${p.optimizationS}%.3f s  planning ${p.planningS}%.3f s" +
        s"  jobs=${p.jobs.size} stages=${p.stages.size} tasks=${p.stages.map(_.tasks).sum}" +
        s"  scans reused=${p.scans._1} prepared=${p.scans._2}" +
        f"  resident blocks=${p.resident._1} ${p.resident._2 / 1048576.0}%.1f MB"
      val jobs = p.jobs.map(j =>
        f"    job ${j.id}%4d ${j.end - j.start}%7.3f s  [${j.start}%7.3f -> ${j.end}%7.3f]  rows=${j.rows}")
      val stages = p.stages.map(s =>
        f"    stage ${s.id}%4d wall=${s.wallMs}%5d ms tasks=${s.tasks}%3d run=${s.runMs}%5d" +
          f" cpu=${s.cpuMs}%5d gc=${s.gcMs}%3d deser=${s.deserMs}%4d ser=${s.serMs}%3d" +
          f" in=${s.inputBytes / 1024}%6d KB sr=${s.shuffleReadBytes}%8d B" +
          f" sw=${s.shuffleWriteBytes}%8d B  ${s.name}")
      head +: (jobs ++ stages)
    }
    val rules =
      if (r.rules.isEmpty) Nil
      else s"  rule time over the $TimedReps timed reps:" +: r.rules.map("    " + _)
    val outcome = r.error.fold(s"  plan: ${r.query}.txt")(e =>
      s"  FAILED: $e (${r.query}.ERROR.txt)")
    (s"=== ${r.query}" +: calls) ++ rules :+ outcome
  }

  /** Spark-side events of one call. Delivered on listener-bus threads; read
    * on the caller's thread after a drain.
    */
  private final class Events extends SparkListener with QueryExecutionListener {
    private final class Tasks {
      var n, runMs, cpuNs, gcMs, deserMs, serMs, inputBytes, inputRows, readBytes, writeBytes = 0L
    }
    private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
    private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
    private val completed = new ConcurrentHashMap[Int, (String, Long)]()
    private val tasks = new ConcurrentHashMap[Int, Tasks]()
    val executions = new ConcurrentLinkedDeque[QueryExecution]()

    def clear(): Unit = {
      Seq(jobStarts, jobStages, jobEnds, completed, tasks).foreach(_.clear()); executions.clear()
    }

    def jobs(epochMs: Long): Seq[Job] = jobStarts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      val e = Option(jobEnds.get(id)).getOrElse(s)
      val rows = jobStages.getOrDefault(id, Nil).flatMap(st => Option(tasks.get(st))).map(_.inputRows).sum
      Job(id, (s.longValue - epochMs) / 1e3, (e.longValue - epochMs) / 1e3, rows)
    }

    def stages(): Seq[Stage] = completed.asScala.toSeq.sortBy(_._1).map { case (id, (name, wallMs)) =>
      val t = Option(tasks.get(id)).getOrElse(new Tasks)
      Stage(id, name, wallMs, t.n.toInt, t.runMs, t.cpuNs / 1000000, t.gcMs, t.deserMs,
        t.serMs, t.inputBytes, t.readBytes, t.writeBytes)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStages.put(e.jobId, e.stageIds)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val wallMs = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      completed.put(i.stageId, (i.name.take(90), wallMs))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = tasks.computeIfAbsent(e.stageId, _ => new Tasks)
      t.synchronized {
        t.n += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.deserMs += m.executorDeserializeTime
        t.serMs += m.resultSerializationTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRows += m.inputMetrics.recordsRead
        t.readBytes += m.shuffleReadMetrics.totalBytesRead
        t.writeBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

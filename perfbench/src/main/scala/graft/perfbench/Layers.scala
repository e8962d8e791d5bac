package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Jobs, tasks and query plans are
  * attributed to spans by time window, which is exact with one client.
  * Per-operation figures are means over the operations of the traced units.
  */
object Layers {

  /** What the workload counted itself during the traced units. */
  final case class Counts(pins: Long, rowsReturned: Long, vectorsIngested: Long)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between order statistics; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def covered(spans: Seq[Span], t: Long): Boolean =
    spans.exists(s => t >= s.start && t < s.end)

  /** Time inside `span` during which at least one task ran. */
  private def busy(span: Span, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, span.start), math.min(b, span.end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  def metrics(rec: Recorder, windows: Seq[(Long, Long)], cores: Int, c: Counts,
      workload: Map[String, Double]): Map[String, Double] = {
    val ev = rec.events
    val all = rec.spans.toSeq
    val ops = all.filter(s => s.parent == -1 && windows.exists { case (a, b) => s.start >= a && s.end <= b })
    val opIds = ops.map(_.id).toSet
    def phase(name: String) = all.filter(s => s.name == name && opIds.contains(s.parent))
    val constructs = phase("construct")
    val actions = phase("action")
    val n = math.max(ops.size, 1).toDouble
    val jobs = ev.jobs.asScala.toSeq.filter(j => covered(ops, j.start))
    val tasks = ev.tasks.asScala.toSeq.filter(t => covered(ops, t.launch))
    val queries = ev.queries.asScala.toSeq.filter(q => covered(ops, q.start))
    val taskRun = tasks.map(_.runMs).sum / 1e3
    val byStage = tasks.groupBy(_.stage).values.toSeq
    val stageTotal = byStage.map(_.map(_.runMs).sum).sum
    val intervals = tasks.map(t => (t.launch, t.finish))
    val idle = actions.map(a => (a.end - a.start) - busy(a, intervals)).sum / 1e9
    val opSeconds = ops.map(_.seconds).sum
    val mb = 1024.0 * 1024.0
    def spanMedian(name: String) = median(rec.spans.filter(_.name == name).map(_.seconds).toSeq)
    val writers = all.filter(s => Set("build", "append", "compact").contains(s.name))
    val written = ev.tasks.asScala.toSeq.filter(t => covered(writers, t.launch)).map(_.outBytes).sum

    Map(
      "operators.construct_s" -> median(constructs.map(_.seconds)),
      "operators.construct_jobs" -> jobs.count(j => covered(constructs, j.start)) / n,
      "Materialize.pins" -> c.pins / n,
      "Materialize.release_s" -> phase("release").map(_.seconds).sum / n,
      "sql.analysis_s" -> queries.map(_.analysis).sum / n,
      "sql.optimization_s" -> queries.map(_.optimization).sum / n,
      "sql.planning_s" -> queries.map(_.planning).sum / n,
      "scheduler.jobs" -> jobs.size / n,
      "scheduler.stages" -> jobs.map(_.stages).sum / n,
      "scheduler.tasks" -> tasks.size / n,
      "scheduler.exec_idle_s" -> idle / n,
      "executor.task_run_s" -> taskRun / n,
      "executor.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "executor.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / n,
      "executor.input_rows" -> tasks.map(_.inRows).sum / n,
      "executor.input_mb" -> tasks.map(_.inBytes).sum / mb / n,
      "executor.shuffle_read_mb" -> tasks.map(_.shRead).sum / mb / n,
      "executor.shuffle_write_mb" -> tasks.map(_.shWrite).sum / mb / n,
      "executor.spill_mb" -> tasks.map(_.spill).sum / mb / n,
      "executor.output_mb" -> tasks.map(_.outBytes).sum / mb / n,
      "executor.max_task_share" ->
        (if (stageTotal == 0) 0.0 else byStage.map(_.map(_.runMs).max).sum.toDouble / stageTotal),
      "executor.core_busy_ratio" -> (if (opSeconds == 0) 0.0 else taskRun / (opSeconds * cores)),
      "Knn.rows_read_per_result" ->
        (if (c.rowsReturned == 0) 0.0 else queries.map(_.postingsRows).sum.toDouble / c.rowsReturned),
      "Lsh.fit_s" -> spanMedian("fit"),
      "Index.build_s" -> spanMedian("build"),
      "Index.append_s" -> spanMedian("append"),
      "Index.delete_s" -> spanMedian("delete"),
      "Index.compact_s" -> spanMedian("compact"),
      "Index.bytes_written_per_vector" ->
        (if (c.vectorsIngested == 0) 0.0 else written.toDouble / c.vectorsIngested),
      "Tables.layout_s" -> spanMedian("layout"),
    ) ++ workload
  }

  /** Jobs of the traced operations whose job group names the operation the
    * time window gave them, names another one, or is missing (jobs launched
    * from pooled threads do not inherit the group).
    */
  def groupCheck(rec: Recorder, windows: Seq[(Long, Long)]): (Int, Int, Int) = {
    val ops = rec.spans.toSeq.filter(s => s.parent == -1 && windows.exists { case (a, b) => s.start >= a && s.end <= b })
    val placed = rec.events.jobs.asScala.toSeq.flatMap(j => ops.find(o => j.start >= o.start && j.start < o.end).map(j -> _))
    val grouped = placed.filter(_._1.group.isDefined)
    val matched = grouped.count { case (j, o) => j.group.contains(SparkEvents.group(o.op)) }
    (matched, grouped.size - matched, placed.size - grouped.size)
  }
}

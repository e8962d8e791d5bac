package graft

/** The plan-string inspection helpers shared by the GATE sweep
  * ([[PlanLintSpec]], over every `SparkEntry.queries` plan) and the
  * BUILDER sweep ([[BuilderPlanLintSpec]], over every plan the
  * ensure*-and-fit pipelines execute — r14, verdict order #1). One matcher
  * per defect class, so a fix or a format change lands in both sweeps at
  * once.
  */
object PlanLints {

  /** The top-level `[…]` groups of a physical Window node's argument list.
    * Tree format prints `Window [funcs]`, `Window [funcs], [sort]`
    * (unpartitioned — the sort list carries ASC/DESC markers),
    * `Window [funcs], [part]` or `Window [funcs], [part], [sort]`
    * (partitioned — a bare column list has no ASC/DESC).
    */
  def topLevelGroups(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '[' => if (depth == 0) start = i; depth += 1
        case ']' =>
          depth -= 1
          if (depth == 0 && start >= 0) { out += s.substring(start + 1, i); start = -1 }
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  /** Unpartitioned Window nodes NOT immediately guarded by a
    * WindowGroupLimit child (the rank≤k pushdown prints directly below its
    * Window in the tree) — each one serializes its whole input through a
    * single task.
    */
  def unguardedGlobalWindows(plan: String): Int = {
    val lines = plan.linesIterator.toArray
    (0 until lines.length).count { i =>
      val l = lines(i)
      val wIdx = l.indexOf("Window [")
      wIdx >= 0 && {
        val groups = topLevelGroups(l.substring(wIdx + "Window ".length))
        val unpartitioned = groups.length == 1 ||
          (groups.length == 2 &&
            (groups(1).contains(" ASC") || groups(1).contains(" DESC")))
        unpartitioned &&
          !(i + 1 < lines.length && lines(i + 1).contains("WindowGroupLimit"))
      }
    }
  }

  def sortAggregates(plan: String): Int =
    plan.linesIterator.count(_.contains("SortAggregate"))

  def objectHashAggregates(plan: String): Int =
    plan.linesIterator.count(_.contains("ObjectHashAggregate"))

  def hasCartesian(plan: String): Boolean = plan.contains("CartesianProduct")

  def hasBnlj(plan: String): Boolean =
    plan.linesIterator.exists(_.contains("BroadcastNestedLoopJoin"))

  /** Executed plans of every Spark action `body` runs, via a
    * QueryExecutionListener (dispatch is async — the bus drain makes the
    * read race-free). Shared by [[BuilderPlanLintSpec]] (cold builds),
    * [[PlanLintSpec]]'s construction-side-job sweep, and the kNN searches'
    * probe and fetch plans in [[KnnJobsSpec]] and [[PlanSpec]].
    */
  def capture(spark: org.apache.spark.sql.SparkSession)(body: => Any): Seq[String] =
    executedPlans(spark)(body).map(_.toString)

  /** [[capture]]'s plans as physical trees. */
  def executedPlans(spark: org.apache.spark.sql.SparkSession)(
      body: => Any): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        plans.synchronized { plans += qe.executedPlan }
    }
    // drain first: an earlier action's queued end event is not the body's
    org.apache.spark.sql.graft.TestBus.drain(spark)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.sql.graft.TestBus.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized { plans.toSeq }
  }
}

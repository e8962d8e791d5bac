package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort as `SortExec(global) ← CoalesceExec(1)`
  * instead of `SortExec(global) ← range exchange`.
  *
  * A range exchange is three pieces of work: a `RangePartitioner` sampling
  * job that recomputes the sort's input from the upstream shuffle, a map
  * stage that computes it again, and the sort. When the input is small, AQE
  * then coalesces the sort's read into one partition anyway. Most gate
  * queries end in such a sort (an `orderBy` over an aggregate or a window
  * of a few hundred rows), so they paid two extra jobs and a second
  * evaluation of their final aggregate for a one-task sort.
  *
  * The strategy fires only when all of these hold, and otherwise leaves the
  * sort to Spark's own planning:
  *  - AQE is re-planning: every leaf under the sort is a materialized
  *    `LogicalQueryStage` (or a `LocalRelation`), so the size below is a
  *    measured shuffle size, never an initial plan's file-size guess. With
  *    AQE off there are no query stages and the strategy never fires.
  *  - The estimate cannot undercount rows: between the sort and those
  *    stages sit only operators that emit at most the rows they read
  *    (Project, Filter, Aggregate, Window, WindowGroupLimit, local Sort,
  *    Union, Limit, Distinct/Deduplicate, left-semi/anti joins). Generate,
  *    Expand and inner/outer joins keep the range plan.
  *  - The input fits AQE's own one-partition size: the coalescing
  *    `minPartitionSize` under `parallelismFirst` (the default), otherwise
  *    `advisoryPartitionSizeInBytes`, and coalescing is on. That is the size
  *    at which AQE would have coalesced the range exchange's output into one
  *    task, so the final sort loses no parallelism at any scale, and no new
  *    setting is needed.
  *  - The sort's own exchange has not run yet: once the range stage is
  *    materialized there is nothing left to save, and a `Coalesce 1` on top
  *    of it would only change the plan.
  */
object SmallSort extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && small(s) =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) :: Nil
    case _ => Nil
  }

  private def small(s: Sort): Boolean = {
    val conf = SQLConf.get
    conf.coalesceShufflePartitionsEnabled && rowBounded(s.child) && !sorted(s) &&
      s.child.stats.sizeInBytes <= onePartitionBytes(conf)
  }

  /** Materialized stages under operators that cannot add rows. */
  private def rowBounded(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.isMaterialized
    case _: LocalRelation => true
    case s: Sort => !s.global && rowBounded(s.child)
    case j: Join => (j.joinType == LeftSemi || j.joinType == LeftAnti) && j.children.forall(rowBounded)
    case _: Project | _: Filter | _: Aggregate | _: Window | _: WindowGroupLimit | _: Union |
        _: LocalLimit | _: GlobalLimit | _: Distinct | _: Deduplicate =>
      p.children.forall(rowBounded)
    case _ => false
  }

  /** The sort's input is a stage already partitioned for it. */
  private def sorted(s: Sort): Boolean = s.child match {
    case q: LogicalQueryStage => q.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(s.order))
    case _ => false
  }

  private def onePartitionBytes(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Adds the strategy to `spark`'s planner once; a session that already
    * plans with it (a second call, or [[GraftExtensions]]) is left as is.
    * Sessions without a classic planner are left alone.
    */
  def install(spark: SparkSession): Unit = spark match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      if (!s.sessionState.planner.strategies.contains(this)) {
        val m = s.experimental
        m.synchronized {
          if (!m.extraStrategies.contains(this)) m.extraStrategies = m.extraStrategies :+ this
        }
      }
    case _ =>
  }

  /** Removes an [[install]]ed strategy: the A/B switch of tests and dev tools. */
  def uninstall(spark: SparkSession): Unit = spark match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      val m = s.experimental
      m.synchronized(m.extraStrategies = m.extraStrategies.filterNot(_ == this))
    case _ =>
  }
}

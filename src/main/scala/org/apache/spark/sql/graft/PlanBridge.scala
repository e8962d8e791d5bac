package org.apache.spark.sql.graft

import scala.collection.immutable.HashSet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.plans.{LeftSemi, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

/** Bridge to `Dataset.ofRows` (private[sql]): build a DataFrame from an
  * already-resolved logical plan. Used to reuse a RESOLVED scan relation
  * across queries without re-running datasource resolution (file listing +
  * relation construction) on every call — the measured ~10 ms/analysis
  * `ResolveDataSource` tail the bench pays on each of 200+ queries × reps.
  *
  * [[select]], [[project]], [[filter]] and [[semiJoin]] compose a plan from Columns
  * WITHOUT a Dataset per step: each Dataset is analyzed eagerly (3–6 ms of
  * Catalyst a step on a search's plans), so a chain built here is analyzed
  * once, by the one [[select]] that ends it.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `Project(columns, child)` as a DataFrame: the one analysis of a chain. */
  def select(spark: SparkSession, child: LogicalPlan, columns: Column*): DataFrame =
    ofRows(spark, project(spark, child, columns: _*))

  /** `Project(columns, child)`, unanalyzed. */
  def project(spark: SparkSession, child: LogicalPlan, columns: Column*): LogicalPlan =
    Project(columns.map(c => ExpressionUtils.toNamed(expression(spark, c))), child)

  /** `Filter(condition, child)`, unanalyzed. */
  def filter(spark: SparkSession, condition: Column, child: LogicalPlan): LogicalPlan =
    Filter(expression(spark, condition), child)

  /** `c IN values` as one `InSet` node over internal values (Long for a
    * LONG column, Int for an INT one) — what the optimizer turns a long
    * `isin` into, without a literal child per value to analyze and
    * optimize first.
    */
  def inSet(c: Column, values: Iterable[Any]): Column =
    // a concrete HashSet, as OptimizeIn builds it: codegen casts the set to
    // its runtime class, which a map's key-set view does not keep in a task
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c), HashSet.from(values)))

  /** The rows of `df`'s plan as the executed plan returns them, under the
    * SQL execution id `collect()` would open (listeners see the same
    * execution), without the Row encoder `collect()` resolves and runs.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A Column as the Catalyst expression the session's Dataset API builds. */
  private def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** `left` LEFT SEMI JOIN `right` USING `keys`, unanalyzed. */
  def semiJoin(left: LogicalPlan, right: LogicalPlan, keys: String*): LogicalPlan =
    Join(left, right, UsingJoin(LeftSemi, keys), None, JoinHint.NONE)

  /** A DataFrame over a FRESH instance of a resolved leaf relation — fresh
    * expression ids and fresh plan-node lazy state per call, exactly what a
    * fresh `spark.read` would produce, while reusing the resolved relation's
    * expensive innards (file index, schema, options). None when the plan
    * isn't a multi-instance leaf, OR when the session isn't the classic
    * implementation `ofRows` requires — [[graft.Readers.sessionKey]]
    * tolerates non-classic sessions, so this path must degrade to the
    * caller's real-read fallback for them instead of throwing a
    * ClassCastException out of the Option contract.
    */
  def freshRows(spark: SparkSession, plan: LogicalPlan): Option[DataFrame] =
    (spark, plan) match {
      case (s: org.apache.spark.sql.classic.SparkSession,
            m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation)
          if plan.children.isEmpty =>
        Some(org.apache.spark.sql.classic.Dataset.ofRows(s, m.newInstance()))
      case _ => None
    }
}

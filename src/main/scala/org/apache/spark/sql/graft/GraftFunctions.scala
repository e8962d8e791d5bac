package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the native vector expressions, so `spark.sql(...)`
  * users get `l2_distance` / `cosine_sim` alongside the Column API.
  *
  * Two entry points:
  *  - [[GraftExtensions]] for `SparkSession.builder().withExtensions(...)`
  *    or `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  *    (production path);
  *  - [[GraftFunctions.register]] for an already-built session (tests/REPL).
  */
object GraftFunctions {

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("l2_distance", "Euclidean distance between two float vectors",
      (es: Seq[Expression]) => VectorExpressions.L2Distance(es(0), es(1))),
    ("cosine_sim", "cosine similarity between two float vectors",
      (es: Seq[Expression]) => VectorExpressions.CosineSim(es(0), es(1))),
    ("dot_product", "inner product between two float vectors (MIPS ranking)",
      (es: Seq[Expression]) => VectorExpressions.DotProduct(es(0), es(1))))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  private[graft] def inject(e: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("org.apache.spark.sql.graft.VectorExpressions", name, usage),
        builder))
    }
}

/** `spark.sql.extensions` entry point: the SQL functions and the
  * [[SmallSort]] planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(e)
    e.injectPlannerStrategy(_ => SmallSort)
  }
}

/** Engine-internal accessors that need the sql package (classic `Dataset` and
  * the execution plan nodes are not reachable from user packages).
  */
object GraftInternals {

  /** The persisted RDD backing a `localCheckpoint`ed / `checkpoint`ed frame.
    * `Dataset.unpersist` only clears CacheManager entries; checkpoint blocks
    * live on the underlying RDD and leak for the session's lifetime unless
    * unpersisted directly (iterative algorithms checkpoint once per round).
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }

  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))
}

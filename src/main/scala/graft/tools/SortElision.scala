package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.graft.{PlanBridge, SmallSort}

import graft.{Bench, SparkEntry}
import graft.operators.Materialize

/** Dev tool on the bench's session ([[graft.Bench.session]]): the gate
  * queries whose FINAL operator is a global sort NOT protected by a limit.
  * Sort+limit queries plan a TakeOrderedAndProject instead.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=DIR sbt "runMain graft.tools.SortElision [--execute]"`
  * (default fixtures sf0.001).
  *
  * Without flags it lists the set by plan inspection and runs nothing.
  * With `--execute` it runs each listed query twice over one build: once
  * planned without the [[SmallSort]] strategy, then once with it. Per query
  * it prints whether each final adaptive plan still holds a range exchange,
  * the jobs of each run, and whether the two runs' collected rows are equal
  * in order. A summary line counts the sorts that lost their range exchange.
  */
object SortElision {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val affected = terminalSorts(spark, sfDir)
      println(s"terminal no-limit global sorts (${affected.size} of ${SparkEntry.queries.size}): " +
        affected.mkString(", "))
      if (args.contains("--execute")) execute(spark, sfDir, affected)
    } finally spark.stop()
  }

  private def terminalSorts(spark: SparkSession, sfDir: String): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // terminal = a root-level chain of Project/SubqueryAlias ending at a
      // global Sort; any Limit above the Sort makes it the root instead
      // (GlobalLimit(…, Sort)) and the sort plans as TakeOrderedAndProject
      def terminalUnlimitedSort(p: LogicalPlan): Boolean = p match {
        case Project(_, child) => terminalUnlimitedSort(child)
        case SubqueryAlias(_, child) => terminalUnlimitedSort(child)
        case s: Sort => s.global
        case _ => false
      }
      val hit =
        try terminalUnlimitedSort(fn(spark, sfDir).queryExecution.analyzed)
        catch { case NonFatal(_) => false }
      Materialize.releaseAll()
      if (hit) Some(name) else None
    }

  /** Whether a final adaptive plan (the text `executedPlan` prints after
    * the action) still holds a range exchange. The initial plan always does.
    */
  def rangeExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head.contains("rangepartitioning")

  private final case class Run(rows: Array[Row], range: Boolean, jobs: Int)

  private def execute(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def run(df: DataFrame): Run = {
      ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      val rows = df.collect()
      ListenerDrain.drain(spark.sparkContext)
      Run(rows, rangeExchange(df), jobs.get)
    }
    val results = names.map { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        SmallSort.uninstall(spark)
        val before = run(PlanBridge.ofRows(spark, df.queryExecution.logical))
        SmallSort.install(spark)
        val after = run(df)
        val same = before.rows.sameElements(after.rows)
        println(f"$name%-40s rows ${after.rows.length}%7d  range ${before.range}%5s -> " +
          f"${after.range}%-5s  jobs ${before.jobs}%3d -> ${after.jobs}%3d  " +
          (if (same) "rows-equal-in-order" else "ROWS DIFFER"))
        Some((before, after, same))
      } catch {
        case NonFatal(e) =>
          SmallSort.install(spark)
          println(s"$name FAILED: $e")
          None
      } finally Materialize.releaseAll()
    }
    spark.sparkContext.removeSparkListener(listener)
    val done = results.flatten
    val lost = done.count { case (b, a, _) => b.range && !a.range }
    println(s"executed ${done.size} of ${names.size}; range exchange lost in $lost, " +
      s"kept in ${done.count(_._2.range)}, absent without the strategy in " +
      s"${done.count(!_._1.range)}; jobs ${done.map(_._1.jobs).sum} -> " +
      s"${done.map(_._2.jobs).sum}; rows differ in ${done.count(!_._3)}")
  }
}

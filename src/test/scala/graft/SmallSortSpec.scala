package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{PlanBridge, SmallSort, TestBus}

import graft.operators.Materialize
import graft.tools.SortElision.rangeExchange

/** A small terminal sort plans as one coalesced partition: the sampling
  * job and the range exchange are gone, the rows and their order are
  * unchanged, and every case the strategy must not touch keeps Spark's own
  * range plan.
  */
class SmallSortSpec extends SparkSpec {

  private val Small = Seq("q01_pricing_summary", "q09_top_orders_per_customer",
    "q42_session_windows", "q44_lag_deltas", "q54_percentiles")

  private def build(name: String): DataFrame = SparkEntry.queries(name)(spark, sf0001)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Jobs started while `body` runs (the listener bus drained both sides). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBus.drain(spark); n.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A fresh plan of `df`'s query, executed without the strategy. */
  private def without[T](df: DataFrame)(act: DataFrame => T): (DataFrame, T) = {
    SmallSort.uninstall(spark)
    try {
      val plain = PlanBridge.ofRows(spark, df.queryExecution.logical)
      (plain, act(plain))
    } finally SmallSort.install(spark)
  }

  /** Expression and plan ids come from session-wide counters; query stage
    * and codegen ids follow the order in which stages finish.
    */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("QueryStage \\d+", "QueryStage").replaceAll("\\*\\(\\d+\\)", "*()")

  /** `df` grouped down to ten rows over a materialized shuffle stage. */
  private def grouped: DataFrame = {
    SmallSort.install(spark)
    spark.range(1000).groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
  }

  private def sortedCollect(df: DataFrame): DataFrame = { df.collect(); df }

  test("five surface sorts run in at most two jobs with no range exchange") {
    Small.foreach { name =>
      try {
        noop(build(name)) // first reads lay out and memoize the fixtures
        val df = build(name)
        var plans = Seq.empty[String]
        val jobs = jobsDuring { plans = PlanLints.capture(spark)(noop(df)) }
        val plan = plans.last.split("== Initial Plan ==").head
        info(s"$name: $jobs jobs")
        assert(plan.contains("isFinalPlan=true"), s"$name: no final adaptive plan")
        assert(!plan.contains("rangepartitioning"), s"$name kept its range exchange:\n$plan")
        assert(jobs <= 2, s"$name ran $jobs jobs")
      } finally Materialize.releaseAll()
    }
  }

  test("rows and their order equal those planned without the strategy") {
    Small.foreach { name =>
      try {
        val df = build(name)
        val (plain, want) = without(df)(_.collect())
        assert(rangeExchange(plain), s"$name: the plain plan has no range exchange to remove")
        val got = df.collect()
        assert(!rangeExchange(df), s"$name kept its range exchange")
        assert(got.nonEmpty && got.sameElements(want), s"$name rows differ")
      } finally Materialize.releaseAll()
    }
  }

  test("a sort whose input is over AQE's one-partition size keeps the range exchange") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.getOption(key)
    assert(!rangeExchange(sortedCollect(grouped.orderBy("k"))))
    spark.conf.set(key, "1")
    try assert(rangeExchange(sortedCollect(grouped.orderBy("k"))))
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a Generate or an inner join under the sort keeps the range exchange") {
    val exploded = grouped.select(col("k"), explode(array(col("n"), col("n") + 1)).as("v"))
    assert(rangeExchange(sortedCollect(exploded.orderBy("k", "v"))))
    val other = spark.range(1000).groupBy((col("id") % 5).as("k")).agg(sum("id").as("s"))
    assert(rangeExchange(sortedCollect(grouped.join(other, "k").orderBy("k"))))
  }

  test("with AQE off the strategy never fires") {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assert(rangeExchange(sortedCollect(build("q01_pricing_summary"))))
      assert(rangeExchange(sortedCollect(grouped.orderBy("k"))))
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Materialize.releaseAll()
    }
  }

  test("q34 and q98 final plans are unchanged") {
    Seq("q34_minhash_neardups", "q98_containment_neardups").foreach { name =>
      try {
        val df = build(name)
        val (plain, _) = without(df)(_.collect())
        df.collect()
        val want = normalized(plain.queryExecution.executedPlan.toString)
        assert(rangeExchange(plain), s"$name: the plain plan has no range exchange")
        assert(normalized(df.queryExecution.executedPlan.toString) == want, s"$name plan changed")
      } finally Materialize.releaseAll()
    }
  }

  test("a second install adds no second strategy") {
    SmallSort.install(spark)
    SmallSort.install(spark)
    val installed = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraStrategies
    assert(installed.count(_ == SmallSort) == 1)
  }
}

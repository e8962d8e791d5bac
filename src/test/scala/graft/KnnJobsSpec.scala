package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.TestBus

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Index, Knn, Pq, Vectors}

/** Job budget of an indexed kNN search: the query side rides the plan as
  * literals and everything after the collision count sits in one
  * partition, so a search is the collision-count exchange, the k1
  * broadcast and the result job — three jobs, measured on this sf0.001
  * index (before the shared core it was nine: the query-side broadcasts,
  * the k1/k2 window exchanges and the global sort's sample and range
  * exchange each cost one). A regression back to broadcast relations or
  * window exchanges fails here before any bench run.
  */
class KnnJobsSpec extends SparkSpec {

  /** Jobs started while `body` runs (the listener bus drained both sides). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(spark)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs of the search core's action on a fresh (never appended) layout. */
  val ActionJobs = 3

  private lazy val idx = {
    val dir = Index.ensure(spark, sf0001)
    // first reads resolve and memoize the layout's relations (schema
    // inference jobs); the budget is the steady state after that
    Knn.searchIndex(spark, dir, 8, 100, 10).collect()
    Knn.searchIndexByVector(spark, dir, Array.fill(64)(0.5f), 100, 10).collect()
    dir
  }

  test("raw-vector search: no job before its action, at most three in it") {
    val q = spark.read.parquet(s"$idx/vectors").filter("vec_id = 3")
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val (df, constructJobs) = jobsDuring(Knn.searchIndexByVector(spark, idx, q, 100, 10))
    assert(constructJobs == 0, "searchIndexByVector ran a job before its action")
    val (rows, actionJobs) = jobsDuring(df.collect())
    assert(rows.nonEmpty)
    info(s"action jobs: $actionJobs")
    assert(actionJobs <= ActionJobs, s"raw-vector search ran $actionJobs jobs")
  }

  test("stored-id batch search: the query-doc GET plus at most three jobs") {
    val (rows, jobs) = jobsDuring(Knn.searchIndex(spark, idx, queryMaxId = 8, 100, 10).collect())
    assert(rows.map(_.getLong(0)).distinct.length == 8)
    info(s"jobs: $jobs")
    assert(jobs <= 1 + ActionJobs, s"stored-id search ran $jobs jobs")
  }

  test("multiprobe search keeps the same budget") {
    val (_, jobs) = jobsDuring(
      Knn.searchIndex(spark, idx, queryMaxId = 4, 100, 10, multiprobe = true).collect())
    info(s"jobs: $jobs")
    assert(jobs <= 1 + ActionJobs, s"multiprobe search ran $jobs jobs")
  }

  /** Action jobs of an indexed quantized search, measured on this fixture:
    * the k1 window's exchange, the k1 broadcast into the vectors join and
    * the result job. The query side rides the code scan as a literal
    * query-id array (IVF-PQ: a literal cell → query-ids map), so no query
    * relation is broadcast. Before that it was four here, and eight before
    * the shared re-rank tail: a query-vector broadcast, the k2 window's
    * exchange, and the final sort's sample job and range exchange.
    */
  val QuantizedActionJobs = 3

  Seq[(String, (SparkSession, String) => DataFrame)](
    "PQ" -> ((s, d) => Pq.annIndexed(s, Pq.PQ(), d)),
    "SQ8" -> ((s, d) => Pq.annIndexed(s, Pq.SQ8, d)),
    "BQ" -> ((s, d) => Pq.annIndexed(s, Pq.BQ, d)),
    "IVF-PQ" -> ((s, d) => Pq.annIvfPq(s, d))).foreach { case (family, search) =>
    test(s"indexed $family search: the shared re-rank tail keeps the action within budget") {
      val (rows, actionJobs) = steadyActionJobs(search)
      assert(rows.map(_.getLong(0)).distinct.length == 8)
      info(s"action jobs: $actionJobs")
      assert(actionJobs <= QuantizedActionJobs, s"$family search ran $actionJobs action jobs")
    }
  }

  /** Construction jobs of an inline quantized search's second call: the
    * fit is memoized per (codec, corpus), so only the query-vector collect
    * runs before the action. Refitting, PQ re-collects its codebook sample
    * and SQ8 reruns its min/max aggregate on every call.
    */
  val InlineConstructJobs = 1

  test("inline PQ, SQ8 and BQ searches: a memoized fit leaves one construction job") {
    val jobs = Seq[(String, Pq.Codec[_ <: AnyRef])](
      "PQ" -> Pq.PQ(), "SQ8" -> Pq.SQ8, "BQ" -> Pq.BQ).map { case (family, codec) =>
      Pq.ann(spark, codec, sf0001).collect()
      family -> jobsDuring(Pq.ann(spark, codec, sf0001))._2
    }
    info(s"construction jobs: ${jobs.mkString(", ")}")
    assert(jobs.forall(_._2 <= InlineConstructJobs), s"construction jobs over budget: $jobs")
  }

  /** Action jobs of the indexed IVF search (q29), measured on this fixture:
    * the top-k window's exchange, then the final sort's sample job, range
    * exchange and result. Its probes and query vectors are literals; with
    * them as broadcast relations it was six.
    */
  val IvfActionJobs = 4

  test("indexed IVF search: the literal query side keeps the action within budget") {
    val (rows, actionJobs) = steadyActionJobs((s, d) => Vectors.annIvfIndexed(s, d))
    assert(rows.map(_.getLong(0)).distinct.length == 8)
    info(s"action jobs: $actionJobs")
    assert(actionJobs <= IvfActionJobs, s"IVF search ran $actionJobs action jobs")
  }

  /** Rows and action jobs of a search's second call: the first builds the
    * index and memoizes its model and relations.
    */
  private def steadyActionJobs(
      search: (SparkSession, String) => DataFrame): (Array[org.apache.spark.sql.Row], Int) = {
    search(spark, sf0001).collect()
    val df = search(spark, sf0001)
    jobsDuring(df.collect())
  }
}

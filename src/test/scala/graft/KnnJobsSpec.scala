package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.TestBus

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.operators.{Index, Knn, Lsh, Pq, Vectors}

/** Job budgets of the indexed vector searches, as total jobs per call
  * (construction + action), measured on this sf0.001 index. Every one runs
  * like the reference's coordinating node: each scan it reads (the LSH
  * postings probe, a quantized code scan, the IVF cell scan, the candidate
  * fetch) is one job with no exchange, and the cuts run on the driver — so
  * the search returns a local frame whose action runs no job. Before that
  * an LSH search was three action jobs (the collision-count exchange, the
  * k1 broadcast, the result), and nine before the shared core (the
  * query-side broadcasts, the k1/k2 window exchanges and the global sort's
  * sample and range exchange each cost one). A regression back to an
  * exchange, a broadcast relation or a lazy tail fails here before any
  * bench run.
  */
class KnnJobsSpec extends SparkSpec {

  /** What `body` ran: its value, the jobs started and the executed plans
    * of its actions (the listener bus drained both sides).
    */
  private def jobsDuring[T](body: => T): (T, Int, Seq[String]) = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      var out: Option[T] = None
      val plans = PlanLints.capture(spark) { out = Some(body) }
      (out.get, n.get, plans)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs and plans of one search call and of its result's action. */
  private def searchJobs(search: => DataFrame): (Array[org.apache.spark.sql.Row], Int, Seq[String]) = {
    val (df, callJobs, plans) = jobsDuring(search)
    val (rows, actionJobs, _) = jobsDuring(df.collect())
    assert(actionJobs == 0, s"the search's action ran $actionJobs jobs")
    (rows, callJobs, plans)
  }

  /** Jobs of an LSH search core call: the postings probe and the fetch. */
  val SearchJobs = 2

  private lazy val idx = {
    val dir = Index.ensure(spark, sf0001)
    // first reads resolve and memoize the layout's relations (schema
    // inference jobs); the budget is the steady state after that
    Knn.searchIndex(spark, dir, 8, 100, 10).collect()
    Knn.searchIndexByVector(spark, dir, Array.fill(64)(0.5f), 100, 10).collect()
    dir
  }

  /** Stored vector 3, read outside any measured call. */
  private lazy val q = spark.read.parquet(s"$idx/vectors").filter("vec_id = 3")
    .select("embedding").collect()(0).getSeq[Float](0).toArray

  /** A search's plans: one reads each of `reads`, and none has an
    * exchange.
    */
  private def assertNoExchange(plans: Seq[String], reads: String*): Unit = {
    reads.foreach(r => assert(plans.exists(_.contains(r)), s"no plan reads $r:\n${plans.mkString("\n\n")}"))
    plans.foreach(p => assert(!p.contains("Exchange"), s"a search plan has an exchange:\n$p"))
  }

  /** The probe and fetch plans of an LSH search: the postings scan and the
    * vectors scan, neither behind an exchange.
    */
  private def assertProbesWithoutExchange(plans: Seq[String]): Unit =
    assertNoExchange(plans, "postings", "vectors")

  test("raw-vector search: two jobs per call, both probes without an exchange") {
    val query = q
    val (rows, jobs, plans) = searchJobs(Knn.searchIndexByVector(spark, idx, query, 100, 10))
    assert(rows.nonEmpty)
    info(s"jobs: $jobs")
    assert(jobs <= SearchJobs, s"raw-vector search ran $jobs jobs")
    assertProbesWithoutExchange(plans)
  }

  test("a repeated search reads resident blocks: its scans open no file") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val query = q
    Knn.searchIndexByVector(spark, idx, query, 100, 10).collect()
    val plans = PlanLints.executedPlans(spark)(Knn.searchIndexByVector(spark, idx, query, 100, 10).collect())
    // the prepared probe's and fetch's scans (the result's collect reads a local relation)
    val scans = plans.flatMap(_.collect { case s: FileSourceScanExec => s })
    assert(scans.map(_.relation.location.rootPaths.head.getName).sorted == Seq("postings", "vectors"),
      plans.mkString("\n\n"))
    def scanMetrics: Seq[Long] =
      scans.flatMap(s => Seq(s.metrics("numFiles").value, s.metrics("numOutputRows").value))
    val before = scanMetrics
    val (rows, jobs, _) = searchJobs(Knn.searchIndexByVector(spark, idx, query, 100, 10))
    assert(rows.nonEmpty)
    assert(jobs <= SearchJobs, s"raw-vector search ran $jobs jobs")
    assert(scanMetrics == before, s"the probe or fetch scan read files: $before -> $scanMetrics")
  }

  test("stored-id batch search: the query-doc GET plus two jobs") {
    val dir = idx
    val (rows, jobs, plans) = searchJobs(Knn.searchIndex(spark, dir, queryMaxId = 8, 100, 10))
    assert(rows.map(_.getLong(0)).distinct.length == 8)
    info(s"jobs: $jobs")
    assert(jobs <= 1 + SearchJobs, s"stored-id search ran $jobs jobs")
    assertProbesWithoutExchange(plans)
  }

  test("multiprobe search keeps the same budget") {
    val query = q
    val (_, byVector, vectorPlans) = searchJobs(
      Knn.searchIndexByVector(spark, idx, query, 100, 10, multiprobe = true))
    val (_, stored, storedPlans) = searchJobs(
      Knn.searchIndex(spark, idx, queryMaxId = 4, 100, 10, multiprobe = true))
    info(s"jobs: raw-vector $byVector, stored-id $stored")
    assert(byVector <= SearchJobs, s"raw-vector multiprobe search ran $byVector jobs")
    assert(stored <= 1 + SearchJobs, s"stored-id multiprobe search ran $stored jobs")
    assertProbesWithoutExchange(vectorPlans ++ storedPlans)
  }

  test("a search returns a bare local relation whose collect runs no job") {
    val query = q
    Seq(Knn.searchIndexByVector(spark, idx, query, 100, 10),
      Knn.searchIndex(spark, idx, queryMaxId = 8, 100, 10),
      Pq.annIndexed(spark, Pq.SQ8, sf0001),
      Vectors.annIvfIndexed(spark, sf0001)).foreach { df =>
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"not a bare local relation:\n${df.queryExecution.analyzed}")
      // the columns and nullability the projected frame had
      val want = Seq("query_id" -> false, "neighbor_id" -> true, "rank" -> false) ++
        (if (df.columns.contains("collisions")) Seq("collisions" -> false) else Nil) :+
        ("dist4" -> true)
      assert(df.schema.map(f => f.name -> f.nullable) == want, df.schema)
      val (rows, jobs, _) = jobsDuring(df.collect())
      assert(jobs == 0, s"the result's collect ran $jobs jobs")
      assert(rows.nonEmpty)
    }
  }

  test("an appended layout: the same budget, no exchange in the probe or the fetch") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-appended").toString
    Index.build(spark, emb, Lsh.fit(emb, tables = 8, bits = 3), dir)
    // fresh ids only: no supersede marker, no tombstone, a plain live view
    Index.append(spark, dir, emb.filter("vec_id < 50")
      .withColumn("vec_id", org.apache.spark.sql.functions.col("vec_id") + 100000L))
    val query = q
    Knn.searchIndex(spark, dir, 8, 100, 10).collect()
    val (_, stored, storedPlans) = searchJobs(Knn.searchIndex(spark, dir, 8, 100, 10))
    val (_, byVector, vectorPlans) = searchJobs(Knn.searchIndexByVector(spark, dir, query, 100, 10))
    info(s"jobs: stored-id $stored, raw-vector $byVector")
    assert(stored <= 1 + SearchJobs && byVector <= SearchJobs)
    assertProbesWithoutExchange(storedPlans ++ vectorPlans)
  }

  test("a probe after a delete and a re-ingest: no join, no broadcast, the same budget") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-deleted").toString
    Index.build(spark, emb, Lsh.fit(emb, tables = 8, bits = 3), dir)
    // a tombstone set and a supersede marker: the live view, which the
    // probe's tasks and the GET's and fetch's scans apply from one
    // driver-loaded Liveness
    Index.delete(spark, dir, Seq(42L, 43L))
    Index.append(spark, dir, emb.filter("vec_id = 44"))
    val query = q
    Knn.searchIndex(spark, dir, 8, 100, 10).collect()
    val (rows, stored, storedPlans) = searchJobs(Knn.searchIndex(spark, dir, 8, 100, 10))
    val (_, byVector, vectorPlans) = searchJobs(Knn.searchIndexByVector(spark, dir, query, 100, 10))
    info(s"jobs: stored-id $stored, raw-vector $byVector")
    assert(stored <= 1 + SearchJobs && byVector <= SearchJobs)
    assert(!rows.exists(r => r.getLong(1) == 42L || r.getLong(1) == 43L))
    val plans = storedPlans ++ vectorPlans
    assert(plans.count(_.contains("postings")) == 2, plans.mkString("\n\n"))
    assertWithoutJoin(plans, "postings", "vectors")
  }

  /** A search's plans after a delete: one reads each of `reads`, and none
    * has a join or a broadcast.
    */
  private def assertWithoutJoin(plans: Seq[String], reads: String*): Unit = {
    assertNoExchange(plans, reads: _*)
    plans.foreach(p => assert(!p.contains("Join") && !p.contains("BroadcastExchange"), p))
  }

  test("a capped search: the stored-id budget, no exchange") {
    // the cap is cut in the probe's tasks and again on the driver; as a
    // dense_rank window it cost an exchange and four jobs
    Knn.searchIndex(spark, idx, 8, 100, 10, bucketCap = 5).collect()
    val (rows, jobs, plans) = searchJobs(Knn.searchIndex(spark, idx, 8, 100, 10, bucketCap = 5))
    assert(rows.map(_.getLong(0)).distinct.length == 8)
    info(s"jobs: $jobs")
    assert(jobs <= 1 + SearchJobs, s"capped search ran $jobs jobs")
    assertProbesWithoutExchange(plans)
  }

  /** Jobs per call of q120's filtered search, measured on this fixture:
    * the query-doc GET, the probe, the collect of the allowed ids among the
    * probed ones and the fetch. As a semi-join in the probe plan it was
    * the same four, one of them an exchange's.
    */
  val FilteredJobs = 4

  test("a q120 filtered search: no exchange, no more jobs") {
    Knn.lshTopKFilteredIndexed(spark, sf0001).collect()
    val (rows, jobs, plans) = searchJobs(Knn.lshTopKFilteredIndexed(spark, sf0001))
    assert(rows.nonEmpty)
    info(s"jobs: $jobs")
    assert(jobs <= FilteredJobs, s"filtered search ran $jobs jobs")
    assertProbesWithoutExchange(plans)
  }

  /** Jobs per call of an indexed quantized search, measured on this
    * fixture: the query-vector GET, the code scan (each task keeping its
    * top-k1 per query, the driver merging them) and the fetch that
    * rescores the candidates. The query side rides the scan's tasks. With
    * the k1 cut a window over an exchange it was four (the GET, the
    * window's exchange and result, the fetch); before the tail moved to the
    * driver the action alone was four here, and eight before the shared
    * re-rank tail.
    */
  val QuantizedJobs = 3

  Seq[(String, (SparkSession, String) => DataFrame)](
    "PQ" -> ((s, d) => Pq.annIndexed(s, Pq.PQ(), d)),
    "SQ8" -> ((s, d) => Pq.annIndexed(s, Pq.SQ8, d)),
    "BQ" -> ((s, d) => Pq.annIndexed(s, Pq.BQ, d)),
    "IVF-PQ" -> ((s, d) => Pq.annIvfPq(s, d))).foreach { case (family, search) =>
    test(s"indexed $family search: the shared re-rank tail keeps the action within budget") {
      search(spark, sf0001).collect()
      val (rows, jobs, plans) = searchJobs(search(spark, sf0001))
      assert(rows.map(_.getLong(0)).distinct.length == 8)
      info(s"jobs: $jobs")
      assert(jobs <= QuantizedJobs, s"$family search ran $jobs jobs")
      assertNoExchange(plans, "/codes", "embeddings")
    }
  }

  test("PQ, SQ8, BQ and IVF-PQ after a delete and a re-ingest: no join, the same budget") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    def marked(build: String => Unit, append: String => Unit): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-codes-deleted").toString
      build(dir)
      Pq.delete(spark, dir, Seq(42L, 43L))
      append(dir)
      dir
    }
    def flat[M <: AnyRef](codec: Pq.Codec[M]): String =
      marked(Pq.build(spark, codec, emb, codec.fit(emb), _), Pq.append(spark, codec, _, emb.filter("vec_id = 44")))
    val ivfPq = marked(Pq.buildIvfPqIndexWith(spark, emb, Vectors.quantizer(spark, emb, cells = 16), Pq.PQ().fit(emb), _),
      Pq.appendIvfPqIndex(spark, _, emb.filter("vec_id = 44")))
    Seq[(String, () => DataFrame)](
      "PQ" -> { val d = flat(Pq.PQ()); () => Pq.searchIndex(spark, Pq.PQ(), d, sf0001) },
      "SQ8" -> { val d = flat(Pq.SQ8); () => Pq.searchIndex(spark, Pq.SQ8, d, sf0001) },
      "BQ" -> { val d = flat(Pq.BQ); () => Pq.searchIndex(spark, Pq.BQ, d, sf0001) },
      "IVF-PQ" -> (() => Pq.searchIvfPqIndex(spark, ivfPq, sf0001))).foreach { case (family, search) =>
      search().collect()
      val (rows, jobs, plans) = searchJobs(search())
      assert(rows.map(_.getLong(0)).distinct.length == 8)
      assert(!rows.exists(r => r.getLong(1) == 42L || r.getLong(1) == 43L), s"$family served a deleted id")
      info(s"$family jobs: $jobs")
      assert(jobs <= QuantizedJobs, s"$family search ran $jobs jobs")
      assertWithoutJoin(plans, "/codes", "embeddings")
    }
  }

  /** Jobs per call of an inline quantized search's second call: the fit is
    * memoized per (codec, corpus), so the call runs the indexed search's
    * three jobs, the code scan re-running the fixture's embeddings scan
    * and encoding each row in the task (with the k1 window, four).
    * Refitting, PQ re-collects its codebook sample and SQ8 reruns its
    * min/max aggregate on every call.
    */
  val InlineJobs = QuantizedJobs

  test("inline PQ, SQ8 and BQ searches: a memoized fit leaves the search's own jobs") {
    val jobs = Seq[(String, Pq.Codec[_ <: AnyRef])](
      "PQ" -> Pq.PQ(), "SQ8" -> Pq.SQ8, "BQ" -> Pq.BQ).map { case (family, codec) =>
      Pq.ann(spark, codec, sf0001).collect()
      val (_, jobs, plans) = searchJobs(Pq.ann(spark, codec, sf0001))
      assertNoExchange(plans, "embeddings")
      family -> jobs
    }
    info(s"jobs: ${jobs.mkString(", ")}")
    assert(jobs.forall(_._2 <= InlineJobs), s"jobs over budget: $jobs")
  }

  /** Jobs per call of the indexed IVF search (q29), measured on this
    * fixture: the query-vector GET and the cell scan (each task keeping its
    * top-k per query, the driver merging them), so its action runs none.
    * With literal probes and a window its action alone ran four (the
    * window's exchange, the final sort's sample job, range exchange and
    * result), and six with broadcast query relations.
    */
  val IvfJobs = 2

  test("indexed IVF search: a GET and one cell scan, no exchange") {
    Vectors.annIvfIndexed(spark, sf0001).collect()
    val (rows, jobs, plans) = searchJobs(Vectors.annIvfIndexed(spark, sf0001))
    assert(rows.map(_.getLong(0)).distinct.length == 8)
    info(s"jobs: $jobs")
    assert(jobs <= IvfJobs, s"IVF search ran $jobs jobs")
    assertNoExchange(plans, "/cells", "embeddings")
  }
}

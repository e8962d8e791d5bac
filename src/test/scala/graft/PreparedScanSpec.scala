package graft

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, posexplode}

import graft.operators.{Index, Knn, Lifecycle, Lsh, Pq, Vectors}

/** The prepared scans an indexed search re-runs (Knn's postings probe and
  * vectors fetch, the quantized code scans, the IVF cell scans, memoized
  * by [[Readers.prepared]]): concurrent searches share them safely, every
  * change to the layout re-prepares them, and every search in between
  * reuses them without compiling a plan or touching the caller's job
  * description. Their resident blocks live for one layout epoch: a change
  * releases the superseded ones, a sink-live dir keeps none, and an
  * evicted block is recomputed from its files.
  */
class PreparedScanSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val model = Lsh.fit(emb, tables = 8, bits = 3)

  private def built(name: String, rows: DataFrame, m: Lsh.LshModel = model): String = {
    val dir = Files.createTempDirectory(name).toString
    Index.build(spark, rows, m, dir)
    dir
  }

  private def vec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select(col("embedding")).collect()(0).getSeq[Float](0).toArray

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** The stored-id, multiprobe, capped and raw-vector answers of a layout. */
  private def answers(dir: String): Seq[Seq[Seq[Any]]] = Seq(
    rows(Knn.searchIndex(spark, dir, 8, 100, 10)),
    rows(Knn.searchIndex(spark, dir, 4, 100, 10, multiprobe = true)),
    rows(Knn.searchIndex(spark, dir, 8, 100, 10, bucketCap = 5)),
    rows(Knn.searchIndexByVector(spark, dir, vec(3), 100, 10, excludeIds = Seq(3L))))

  private def prepares: Long = Readers.scanStats._2

  /** `runs` calls of `searches` in turn on 4 threads, each compared with
    * its sequential rows.
    */
  private def concurrently(searches: IndexedSeq[() => Seq[Seq[Any]]], runs: Int): Unit = {
    val want = searches.map(_())
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (0 until runs).map(i => Future(i % searches.length -> searches(i % searches.length)()))
      Await.result(Future.sequence(calls), 5.minutes).foreach { case (k, got) =>
        assert(got == want(k), s"search $k differs from its sequential run")
      }
    } finally pool.shutdown()
  }

  test("concurrent mixed searches on one layout return the sequential rows") {
    val dir = built("graft-prep-conc", emb)
    val q = vec(3)
    concurrently(IndexedSeq(
      () => rows(Knn.searchIndex(spark, dir, 8, 100, 10)),
      () => rows(Knn.searchIndex(spark, dir, 4, 100, 10, multiprobe = true)),
      () => rows(Knn.searchIndexByVector(spark, dir, q, 100, 10)),
      () => rows(Knn.searchIndex(spark, dir, 8, 100, 10, bucketCap = 5))), runs = 20)
  }

  test("concurrent mixed quantized and IVF searches return their sequential rows") {
    concurrently(IndexedSeq(
      () => rows(Pq.annIndexed(spark, Pq.PQ(), sf0001)),
      () => rows(Pq.annIndexed(spark, Pq.SQ8, sf0001)),
      () => rows(Pq.annIndexed(spark, Pq.BQ, sf0001)),
      () => rows(Pq.ann(spark, Pq.SQ8, sf0001)),
      () => rows(Pq.annIvfPq(spark, sf0001)),
      () => rows(Vectors.annIvfIndexed(spark, sf0001))), runs = 24)
  }

  test("a code layout and an IVF-PQ layout: every change re-prepares; rows equal a fresh build's") {
    val head = emb.filter(col("vec_id") < 400)
    val cents = Vectors.quantizer(spark, head, cells = 16)
    /** A layout kind: build (rows, model, dir), append, vacuum, search. */
    final case class Kind(
        name: String,
        build: (DataFrame, Pq.PqModel, String) => Unit,
        append: (String, DataFrame) => Unit,
        vacuum: String => Unit,
        search: String => Seq[Seq[Any]])
    val kinds = Seq(
      Kind("pq", Pq.build(spark, Pq.PQ(), _, _, _), Pq.append(spark, Pq.PQ(), _, _), Pq.vacuum(spark, _),
        dir => rows(Pq.searchIndex(spark, Pq.PQ(), dir, sf0001))),
      Kind("ivfpq", Pq.buildIvfPqIndexWith(spark, _, cents, _, _), Pq.appendIvfPqIndex(spark, _, _),
        Lifecycle.vacuum(spark, _, Seq("codes" -> Seq("cell"))), dir => rows(Pq.searchIvfPqIndex(spark, dir, sf0001))))
    val fitted = Pq.PQ().fit(head)
    kinds.foreach { kind =>
      def built(rows: DataFrame, m: Pq.PqModel = fitted): String = {
        val dir = Files.createTempDirectory(s"graft-prep-${kind.name}").toString
        kind.build(rows, m, dir)
        dir
      }
      val dir = built(head)
      kind.search(dir)
      def after(what: String)(change: => Unit)(fresh: => String): Unit = {
        change
        val before = prepares
        val got = kind.search(dir)
        assert(prepares > before, s"${kind.name}: no scan re-prepared after $what")
        assert(got == kind.search(fresh), s"${kind.name}: rows after $what differ from a fresh build's")
      }
      // query docs among the deletes: the fixture still asks for them
      val gone = Seq(1L, 10L, 11L, 450L)
      val live = emb.filter(!col("vec_id").isin(gone: _*))
      after("append")(kind.append(dir, emb.filter(col("vec_id") >= 400)))(built(emb))
      after("delete")(Pq.delete(spark, dir, gone))(built(live))
      after("vacuum")(kind.vacuum(dir))(built(live))
      val refit = Pq.PQ().fit(emb)
      after("a rebuild into the same dir")(kind.build(live, refit, dir))(built(live, refit))
    }
  }

  test("every change to the layout re-prepares; rows equal a fresh build's") {
    val extra = emb.filter(col("vec_id") < 40).withColumn("vec_id", col("vec_id") + 100000L)
    val dir = built("graft-prep-life", emb)
    answers(dir)
    def after(what: String)(change: => Unit)(fresh: => String): Unit = {
      change
      val before = prepares
      val got = answers(dir)
      assert(prepares > before, s"no scan re-prepared after $what")
      assert(got == answers(fresh), s"rows after $what differ from a fresh build's")
    }
    val gone = Seq(10L, 11L, 100005L)
    val live = emb.unionByName(extra).filter(!col("vec_id").isin(gone: _*))
    after("append")(Index.append(spark, dir, extra))(built("graft-prep-ref", emb.unionByName(extra)))
    after("delete")(Index.delete(spark, dir, gone))(built("graft-prep-ref", live))
    after("compact")(Index.compact(spark, dir))(built("graft-prep-ref", live))
    after("vacuum")(Index.vacuum(spark, dir))(built("graft-prep-ref", live))
    val wider = Lsh.fit(emb, tables = 8, bits = 4)
    after("a rebuild into the same dir")(Index.build(spark, emb, wider, dir))(
      built("graft-prep-ref", emb, wider))
  }

  test("a file written under postings/ without a lifecycle call re-prepares the probe") {
    val dir = built("graft-prep-oob", emb.filter(col("vec_id") < 400))
    answers(dir)
    // the rest of the corpus, hashed with the layout's model and written
    // straight into its parts: no lifecycle call, so no bump — only the
    // dirs' listing signatures change
    val (m, numBuckets) = Lsh.loadModel(spark, s"$dir/model")
    val rest = Lsh.withHashes(spark, emb.filter(col("vec_id") >= 400), m)
      .select(col("vec_id"), col("embedding"), col("hashes"), lit(0L).as(Index.BatchCol))
    rest.write.mode(SaveMode.Append).parquet(s"$dir/vectors")
    Index.postingLists(Index.withPKey(rest.select(col("vec_id"), col(Index.BatchCol),
        posexplode(col("hashes")).as(Seq("tbl", "hash"))), numBuckets),
        col("tbl"), col("hash"), col(Index.BatchCol), col(Index.PKeyCol))
      .write.mode(SaveMode.Append).partitionBy(Index.PKeyCol).parquet(s"$dir/postings")
    val superseded = Readers.residentRdds
    val before = prepares
    val got = answers(dir)
    assert(prepares > before, "the probe and fetch were not re-prepared")
    // the stale probe and fetch were replaced, their blocks released
    assert((persisted & superseded).isEmpty, s"superseded blocks still resident: $superseded")
    assert(got == answers(built("graft-prep-ref", emb)))
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("every change releases the superseded blocks: only the current epoch's stay resident") {
    val dir = built("graft-prep-resident", emb)
    val wider = Lsh.fit(emb, tables = 8, bits = 4)
    val seen = scala.collection.mutable.Set.empty[Int]
    val counts = (1 to 2).flatMap { round =>
      val extra = emb.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 100000L * round)
      Seq[(String, () => Unit)](
        "append" -> (() => Index.append(spark, dir, extra)),
        "delete" -> (() => Index.delete(spark, dir, Seq(10L + round, 100000L * round))),
        "compact" -> (() => Index.compact(spark, dir)),
        "vacuum" -> (() => Index.vacuum(spark, dir)),
        "rebuild" -> (() => Index.build(spark, emb, if (round == 1) wider else model, dir))).map {
        case (what, change) =>
          change()
          answers(dir)
          val current = Readers.residentRdds
          seen ++= current
          // the probe and the fetch of this layout, nothing else of its past
          assert(current.size == 2, s"after $what: resident $current")
          assert((persisted & seen) == current, s"after $what: ${persisted & seen} resident, $current current")
          persisted.size
      }
    }
    assert(counts.max <= counts.head, s"persisted RDDs per mutation: $counts")
  }

  test("a sink-live dir is read unpersisted: its searches leave no persisted RDD") {
    val sq = Pq.SQ8.fit(emb)
    val idx = Files.createTempDirectory("graft-prep-sink").toString
    Pq.SQ8.writeModel(spark, sq, s"$idx/model")
    val src = Files.createTempDirectory("graft-prep-sink-src").toString
    emb.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$src-part")
    val part = new java.io.File(s"$src-part").listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(src, "b0.parquet"))
    val q = graft.streaming.Streams.codesSink(spark, src, Pq.SQ8.encoder(sq), s"$idx/codes",
      Files.createTempDirectory("graft-prep-sink-ckpt").toString)
    try q.processAllAvailable()
    finally q.stop()
    assert(Readers.sinkLive(spark, s"$idx/codes"), "precondition: the codes carry a sink log")
    val first = rows(Pq.searchIndex(spark, Pq.SQ8, idx, sf0001))
    val held = persisted
    val before = prepares
    assert(rows(Pq.searchIndex(spark, Pq.SQ8, idx, sf0001)) == first)
    assert(prepares > before, "the sink-live code scan was not prepared again")
    assert(persisted == held, s"a sink-live search persisted ${persisted -- held}")
  }

  test("evicted blocks recompute from the files: the same rows, the files read again") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = built("graft-prep-evict", emb)
    val want = answers(dir)
    val plans = PlanLints.executedPlans(spark)(answers(dir))
    def rowsDecoded: Long =
      plans.flatMap(_.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }).sum
    val warm = rowsDecoded
    assert(answers(dir) == want)
    assert(rowsDecoded == warm, "a warm search decoded files")
    Readers.residentRdds.foreach(org.apache.spark.sql.graft.TestBus.evict(spark, _))
    assert(answers(dir) == want, "rows after an eviction differ")
    val refilled = rowsDecoded
    assert(refilled > warm, "the searches after an eviction read no file")
    assert(answers(dir) == want)
    assert(rowsDecoded == refilled, "the refilled blocks were not kept")
  }

  test("searches with different queries share one prepared probe and fetch") {
    val dir = built("graft-prep-reuse", emb)
    val Seq(q3, q5, q7) = Seq(3L, 5L, 7L).map(vec)
    Knn.searchIndexByVector(spark, dir, q3, 100, 10).collect()
    val (reused, prepared) = Readers.scanStats
    val sc = spark.sparkContext
    sc.setJobDescription("the caller's")
    val (first, second) =
      try (PlanLints.executedPlans(spark)(Knn.searchIndexByVector(spark, dir, q5, 100, 10)),
        PlanLints.executedPlans(spark)(Knn.searchIndexByVector(spark, dir, q7, 100, 10, multiprobe = true)))
      finally {
        // the searches' job descriptions gave the caller's back
        assert(sc.getLocalProperty("spark.job.description") == "the caller's")
        sc.setJobDescription(null)
      }
    assert(Readers.scanStats == (reused + 4, prepared), "a search prepared a scan")
    // the same executed plans, probe then fetch: the second search
    // analyzed, optimized and planned nothing
    assert(first.length == 2 && second.length == 2, (first ++ second).mkString("\n\n"))
    first.zip(second).foreach { case (a, b) => assert(a eq b) }
  }
}

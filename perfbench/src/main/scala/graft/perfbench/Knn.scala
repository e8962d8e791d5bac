package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{Index, Knn, Lsh, Materialize}

/** Seeded mixture of `dim`-d vectors: each cluster is a random
  * `intrinsic`-dimensional Gaussian around its center plus a little full-rank
  * noise. Clustered and low-rank on purpose, as real embeddings are: random
  * vectors are LSH's worst case, and isotropic clusters make every member
  * an equally near neighbour.
  */
final class Mixture(seed: Long, dim: Int = 64, clusters: Int = 48, intrinsic: Int = 8) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
  private val bases = Array.fill(clusters, intrinsic, dim)(0.3 * rnd.nextGaussian())

  def draw(): Array[Float] = {
    val c = rnd.nextInt(clusters)
    val v = centers(c).clone()
    var j = 0
    while (j < intrinsic) {
      val z = rnd.nextGaussian()
      val b = bases(c)(j)
      var i = 0
      while (i < dim) { v(i) += z * b(i); i += 1 }
      j += 1
    }
    Array.tabulate(dim)(i => (v(i) + 0.05 * rnd.nextGaussian()).toFloat)
  }

  def draw(n: Int): Array[Array[Float]] = Array.fill(n)(draw())
}

/** The benchmark's own exact kNN: the reference every search is checked
  * against. Distances accumulate in double over the float components.
  */
final class BruteForce(dim: Int) {
  private val ids = ArrayBuffer[Long]()
  private val vecs = ArrayBuffer[Array[Float]]()
  private val byId = scala.collection.mutable.HashMap[Long, Array[Float]]()
  private val dead = scala.collection.mutable.HashSet[Long]()

  def add(id: Long, v: Array[Float]): Unit = { ids += id; vecs += v; byId(id) = v }
  def delete(id: Long): Unit = dead += id
  def isLive(id: Long): Boolean = byId.contains(id) && !dead.contains(id)
  def vector(id: Long): Array[Float] = byId(id)
  def live: Int = ids.size - dead.size

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < dim) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Ids of the `k` live vectors nearest to `q`, ties by id, minus `exclude`. */
  def topK(q: Array[Float], k: Int, exclude: Set[Long]): Seq[Long] = {
    val order = Ordering[(Double, Long)]
    val heap = scala.collection.mutable.PriorityQueue[(Double, Long)]()(order)
    var i = 0
    while (i < ids.size) {
      val id = ids(i)
      if (!dead.contains(id) && !exclude.contains(id)) {
        val d = l2(q, vecs(i))
        if (heap.size < k) heap.enqueue((d, id))
        else if (order.lt((d, id), heap.head)) { heap.dequeue(); heap.enqueue((d, id)) }
      }
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }
}

/** Checks one search's rows `(query_id, neighbor_id, rank, collisions, dist4)`
  * and scores recall@k2 against brute force. Returns (ok, recall).
  */
final class KnnCheck(bf: BruteForce, k2: Int) {
  def apply(rows: Array[Row], queries: Map[Long, (Array[Float], Set[Long])]): (Boolean, Double) = {
    val byQuery = rows.groupBy(_.getLong(0))
    var ok = byQuery.keySet.subsetOf(queries.keySet)
    var recall = 0.0
    queries.foreach { case (qid, (qv, exclude)) =>
      val got = byQuery.getOrElse(qid, Array.empty[Row]).sortBy(_.getInt(2))
      val ids = got.map(_.getLong(1))
      val dists = got.map(_.getDouble(4))
      ok &&= got.nonEmpty && got.length <= k2
      ok &&= got.map(_.getInt(2)).toSeq == (1 to got.length)
      ok &&= dists.toSeq == dists.sorted.toSeq
      ok &&= ids.distinct.length == ids.length
      ok &&= ids.forall(id => bf.isLive(id) && !exclude.contains(id))
      ok &&= got.forall { r =>
        bf.isLive(r.getLong(1)) && math.abs(r.getDouble(4) - bf.l2(qv, bf.vector(r.getLong(1)))) <= 2e-4
      }
      val truth = bf.topK(qv, k2, exclude).toSet
      recall += ids.count(truth.contains).toDouble / k2
    }
    (ok, recall / queries.size)
  }
}

object KnnData {
  def frame(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  def bytesUnder(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.map(bytesUnder).sum else dir.length

  def parquetFiles(dir: File): Int =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.map(parquetFiles).sum
    else if (dir.getName.endsWith(".parquet")) 1 else 0
}

/** `knn-serve`: a built index serving a single-client closed loop of
  * `searchIndexByVector` calls over held-out query vectors, in a repeating
  * mix of ten operations: one batch `searchIndex` over stored ids, two
  * multiprobe searches and seven plain ones. After the timed loop, a
  * lifecycle tail exercises the write side on the same index: an append
  * followed by a search that must find the appended vector, a delete
  * followed by a search that must not return the deleted ids, and a compact
  * followed by a search that must repeat the pre-compact answer.
  */
final class KnnServe(spark: SparkSession, rec: Recorder, work: String, seed: Long, tiny: Boolean)
    extends Workload {
  private val corpusSize = if (tiny) 3000 else 10000
  private val k1 = 100
  private val k2 = 10
  private val batchMaxId = 8L
  private val mix = new Mixture(seed)
  private val bf = new BruteForce(64)
  private val check = new KnnCheck(bf, k2)
  private var corpus: DataFrame = _
  private var indexDir: String = _
  private val heldOut = mix.draw(if (tiny) 40 else 200)
  private val appended = (0 until (if (tiny) 100 else 250)).map(i => ((corpusSize + i).toLong, mix.draw()))
  private val probe = mix.draw()
  private var appendDf: DataFrame = _
  private val figures = scala.collection.mutable.LinkedHashMap[String, Double]()
  private var next = 0
  private var issued = 0
  private var ingested = 0L
  private var returned = 0L
  private var recallSum = 0.0
  private var searches = 0

  def generate(): Unit = {
    val rows = (0 until corpusSize).map(i => (i.toLong, mix.draw()))
    rows.foreach { case (id, v) => bf.add(id, v) }
    corpus = KnnData.frame(spark, rows)
    appendDf = KnnData.frame(spark, appended)
  }

  /** One repetition: fit and build into a fresh directory. */
  def setupOnce(rep: Int): Unit = {
    val dir = s"$work/index-$rep"
    val model = rec.span("fit")(Lsh.fit(corpus, 32, Lsh.deriveBits(corpusSize)))
    rec.span("build")(Index.build(spark, corpus, model, dir))
    indexDir = dir
    ingested += corpusSize
  }

  /** One operation of each kind, so the loop starts with every search plan
    * compiled.
    */
  override def warm(): Seq[Op] = KnnServe.Mix.distinct.map(op)

  /** One operation, the next of the mix. */
  def unit(): Seq[Op] = {
    val kind = KnnServe.Mix(issued % KnnServe.Mix.size)
    issued += 1
    Seq(op(kind))
  }

  private def op(kind: String): Op = kind match {
    case "batch" => batchOp("batch_search")
    case _ =>
      val q = heldOut(next % heldOut.length)
      next += 1
      val res = Ops.timed(rec, "search") {
        Knn.searchIndexByVector(spark, indexDir, q, k1, k2, kind == "multiprobe")
      }(_.collect())
      score(res, Map(-1L -> (q, Set.empty[Long])))
  }

  def opsPerWork: Int = KnnServe.Mix.size

  private def batchOp(name: String): Op = {
    val res = Ops.timed(rec, name)(Knn.searchIndex(spark, indexDir, batchMaxId, k1, k2))(_.collect())
    score(res, (0L until batchMaxId).map(id => id -> (bf.vector(id), Set(id))).toMap)
  }

  private def score(res: Ops.Result[Array[Row]], queries: Map[Long, (Array[Float], Set[Long])]): Op =
    res.value match {
      case Some(rows) =>
        val (ok, recall) = check(rows, queries)
        returned += rows.length
        recallSum += recall * queries.size
        searches += queries.size
        Op(res.seconds, ok, res.release)
      case None => Op(res.seconds, ok = false, res.release)
    }

  override def tail(): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    def step(name: String)(body: => Unit): Unit = {
      val res = Ops.timed(rec, name)(())(_ => body)
      ops += Op(res.seconds, res.value.isDefined, res.release)
    }
    def search(q: Array[Float], extra: Seq[Row] => Boolean): Option[Seq[Row]] = {
      val res = Ops.timed(rec, "search")(Knn.searchIndexByVector(spark, indexDir, q, k1, k2))(_.collect())
      val op = score(res, Map(-1L -> (q, Set.empty[Long])))
      val ok = op.ok && res.value.exists(r => extra(r.toSeq))
      ops += op.copy(ok = ok)
      res.value.map(_.toSeq)
    }
    step("append")(Index.append(spark, indexDir, appendDf))
    appended.foreach { case (id, v) => bf.add(id, v) }
    ingested += appended.size
    val (id, v) = appended(appended.size / 2)
    // The appended vector itself must come back first, at distance 0.
    search(v, rows => rows.exists(r => r.getInt(2) == 1 && r.getLong(1) == id && r.getDouble(4) == 0.0))
    val doomed = (bf.topK(probe, 3, Set.empty) ++ (0L until 7L)).distinct
    step("delete")(Index.delete(spark, indexDir, doomed))
    doomed.foreach(bf.delete)
    val before = search(probe, rows => rows.forall(r => !doomed.contains(r.getLong(1))))
    val postings = new File(indexDir, "postings")
    figures("Index.postings_files_before_compact") = KnnData.parquetFiles(postings)
    step("compact")(Index.compact(spark, indexDir))
    figures("Index.postings_files_after_compact") = KnnData.parquetFiles(postings)
    figures("index_bytes_per_vector") = KnnData.bytesUnder(new File(indexDir)).toDouble / bf.live
    def answer(rows: Seq[Row]) = rows.map(r => (r.getLong(1), r.getInt(2), r.getDouble(4)))
    search(probe, rows => before.map(answer).contains(answer(rows)))
    ops.toSeq
  }

  override def rowsReturned: Long = returned
  override def vectorsIngested: Long = ingested
  override def recall: Option[Double] = Some(if (searches == 0) 0.0 else recallSum / searches)
  override def layerFigures: Map[String, Double] = figures.toMap
}

object KnnServe {
  /** The traffic mix: one operation in ten is a batch search, and two
    * searches in nine use multiprobe. The order is fixed and spreads the
    * slower kinds out, so a run that stops inside the mix has nearly its
    * shares, and the same ones for every seed at the same length.
    */
  val Mix: Seq[String] =
    Seq("plain", "multiprobe", "plain", "plain", "batch", "plain", "plain", "multiprobe", "plain", "plain")
}

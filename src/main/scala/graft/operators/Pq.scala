package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.graft.{PlanBridge, PreparedScan, VectorExpressions}

/** Quantized code indexes — the memory-bounded scale path for embedding
  * search: one index layout, one lifecycle and one two-phase search, with
  * the code format as a parameter ([[Codec]]). Three codecs span the
  * compression ladder (flat 1× / SQ8 4× / PQ 32× / BQ 32× at dim 64):
  *
  *   - [[PQ]] — product quantization (PAPERS.md: Jégou et al., "Product
  *     Quantization for Nearest Neighbor Search", TPAMI 2011 — public
  *     method): the 64-d float vector (256 B) is split into M subspaces and
  *     each subvector replaced by the id of its nearest centroid in a
  *     per-subspace codebook of K entries — M=8 one-byte codes (8 B).
  *   - [[SQ8]] — scalar quantization: one byte per dimension on a
  *     per-dimension [min, max] grid.
  *   - [[BQ]] — binary quantization: one sign bit per dimension against the
  *     corpus mean, packed into one 64-bit word.
  *
  * A codec holds only what differs between formats: the fit, the codegen
  * encode expression and its code column (`codes` binary, or `code`
  * bigint), the one-row model doc, and the phase-1 scorer (ADC,
  * [[PqModel.adc]] over each query's lookup table, for PQ and SQ8; Hamming,
  * `bitCount(code ^ qcode)`, for BQ). Everything else is written once:
  *
  *   - the persisted layout `model/` (one row) + `codes/` (vec_id, code
  *     column, batch) and its [[Lifecycle]]: [[build]], [[append]],
  *     [[delete]], [[vacuum]], [[liveCodes]];
  *   - build-once [[ensure]], keyed by (fixture, codec) in the JVM temp dir;
  *   - the two-phase search, inline over a freshly encoded corpus ([[ann]],
  *     with one fit memo per (codec, fixture)) or over the persisted code
  *     table ([[annIndexed]]):
  *     1. approximate scan: one job re-runs a prepared scan of the live
  *        CODE column (inline: of the fixture embeddings, encoded in the
  *        task) and scores each code against the query vectors riding the
  *        task; each task keeps its top-k1 per query and the driver merges
  *        them ([[Knn.nearest]]).
  *     2. exact re-rank in [[Knn.rerank]]: true L2 on the k1 candidates
  *        only, top-k2 on the driver.
  *
  * Scale notes (100 TB): encoding is a narrow codegen map with the model
  * riding the plan as a reference object (like [[Lsh.withHashes]]); the
  * phase-1 scan reads only the code column (column pruning keeps embeddings
  * out of the scan — the working set shrinks 4–32×, which is the entire
  * point at 100 TB); candidate selection is a bounded top-k1 in each task,
  * with no exchange; only k1 rows per query ever read a real vector. Composes with IVF (classic IVF-PQ: coarse cells prune the scan,
  * PQ codes shrink what remains) — [[annIvfPq]] (q72) stores PQ codes in
  * the cell-partitioned layout of [[Vectors.buildIvfIndex]].
  *
  * Every fit is deterministic — bitwise reproducible on any cluster layout
  * (same discipline as [[Lsh.fit]] / [[Vectors.quantizer]]). Models freeze
  * at build time: appends encode with the STORED model, since refitting
  * would invalidate every stored code; distribution drift is a
  * periodic-rebuild concern ([[Audit.centroidDrift]] is the probe that says
  * when).
  */
object Pq {

  /** codebooks(m)(k) = centroid k of subspace m (length subdim). */
  case class PqModel(m: Int, k: Int, subdim: Int, codebooks: Array[Array[Array[Float]]]) {

    def encode(v: Array[Float]): Array[Byte] = {
      require(v.length == m * subdim, s"dim ${v.length} != m*subdim ${m * subdim}")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        out(s) = nearestCode(v, s).toByte
        s += 1
      }
      out
    }

    /** [[encode]] reading catalyst array storage directly — shared by the
      * interpreted eval and codegen paths of the PqEncode expression (no
      * per-row Seq boxing or float-array copy; same loop order, so codes
      * are bit-identical to the array variant — asserted in PqSpec).
      */
    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
      require(v.numElements() == m * subdim,
        s"dim ${v.numElements()} != m*subdim ${m * subdim}")
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var i = 0
          while (i < subdim) {
            val x = v.getFloat(s * subdim + i).toDouble - cb(c)(i).toDouble
            d += x * x
            i += 1
          }
          if (d < bestD) { bestD = d; best = c } // strict < ⇒ lowest code wins ties
          c += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    private def nearestCode(v: Array[Float], s: Int): Int = {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var i = 0
        while (i < subdim) {
          val x = v(s * subdim + i).toDouble - cb(c)(i).toDouble
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict < ⇒ lowest code wins ties
        c += 1
      }
      best
    }

    /** ADC lookup table for one query: lut(s)(c) = ||q_s − codebook[s][c]||². */
    def lut(q: Array[Float]): Array[Array[Double]] =
      Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          var d = 0.0
          var i = 0
          while (i < subdim) {
            val x = q(s * subdim + i).toDouble - codebooks(s)(c)(i).toDouble
            d += x * x
            i += 1
          }
          d
        }
      }

    def adc(lut: Array[Array[Double]], codes: Array[Byte]): Double = {
      var d = 0.0
      var s = 0
      while (s < m) {
        d += lut(s)(codes(s) & 0xff)
        s += 1
      }
      d
    }
  }

  /** SQ8 model: code c of dimension i decodes to min_i + c·scale_i. The
    * code is a direct O(1) rint((x−min)/scale) per dimension — the grid is
    * arithmetic, so no O(K) argmin (at 100 TB encode is the whole ingest
    * cost and a 256× argmin would dominate it).
    */
  case class SqModel(dim: Int, mins: Array[Float], scales: Array[Double]) {

    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
      require(v.numElements() == dim, s"dim ${v.numElements()} != $dim")
      val out = new Array[Byte](dim)
      var i = 0
      while (i < dim) {
        val s = scales(i)
        val c =
          if (s == 0.0) 0 // constant dimension: every value decodes to min
          else {
            val x = math.rint((v.getFloat(i).toDouble - mins(i).toDouble) / s)
            if (x < 0.0) 0 else if (x > 255.0) 255 else x.toInt
          }
        out(i) = c.toByte
        i += 1
      }
      out
    }

    /** The equivalent PQ view: m=dim one-dimensional subspaces with a K=256
      * arithmetic codebook (decode values stored as Float like every corpus
      * value) — lets SQ8 search reuse the LUT build and the ADC scorer
      * unchanged.
      */
    def asPqModel: PqModel = PqModel(dim, 256, 1,
      Array.tabulate(dim)(i =>
        Array.tabulate(256)(c => Array((mins(i) + c * scales(i)).toFloat))))
  }

  /** BQ model: per-dimension SCALED-LONG mean thresholds
    * (`sum((x·10⁶)::long) div n`, the q84 k-means treatment), so the model
    * is bitwise identical on any partitioning, and the encode comparison
    * `(x·10⁶)::long > thr6` runs in exact integers on both the codegen and
    * driver paths. Mean-centering balances the bit distribution so each bit
    * carries ~1 bit of entropy even when the embedding model leaves a
    * dimension offset.
    */
  case class BqModel(dim: Int, thr6: Array[Long]) {
    require(dim <= 64, s"BQ packs into one long: dim $dim > 64")

    def encodeArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      require(v.numElements() == dim, s"dim ${v.numElements()} != $dim")
      var code = 0L
      var i = 0
      while (i < dim) {
        if ((v.getFloat(i).toDouble * 1e6).toLong > thr6(i)) code |= (1L << i)
        i += 1
      }
      code
    }

    /** Driver-side twin of [[encodeArrayData]] — same comparison, same bit
      * layout (used for query-side codes and spec recomputes).
      */
    def encodeSeq(v: Seq[Float]): Long = {
      require(v.length == dim, s"dim ${v.length} != $dim")
      var code = 0L
      var i = 0
      while (i < dim) {
        if ((v(i).toDouble * 1e6).toLong > thr6(i)) code |= (1L << i)
        i += 1
      }
      code
    }
  }

  /** One code format: what differs between PQ, SQ8 and BQ, and nothing
    * else. `tag` names the codec's parameters in the build-once cache key
    * and the fit memo; `dirName` names its build-once directory
    * (`graft-<dirName>-index-<key>`); `codeCol` is the code column of the
    * layout.
    */
  sealed abstract class Codec[M <: AnyRef](
      val tag: String, val dirName: String, val codeCol: String) extends Serializable {

    /** Deterministic model fit over (vec_id, embedding). */
    def fit(emb: DataFrame): M

    /** The codegen encode expression over an embedding column, named
      * `codeCol`.
      */
    def encoder(model: M): Column => Column

    /** The model as its one-row doc, and back. */
    protected def modelRow(spark: SparkSession, model: M): DataFrame
    protected def readModel(r: Row): M

    /** A code as the phase-1 scorer reads it. */
    type Code

    /** The code in column `at` of a code-table row. */
    private[operators] def stored(row: InternalRow, at: Int): Code

    /** The code [[encoder]] writes for the embedding `v`: the function its
      * expression calls.
      */
    private[operators] def encoded(model: M, v: ArrayData): Code

    /** The phase-1 scorer of the query vectors `queries`: the approximate
      * distance of a code to the query at an index.
      */
    private[operators] def scorer(model: M, queries: Seq[Array[Float]]): (Code, Int) => Double

    /** (vec_id, code column) — the encoded corpus, a narrow codegen map. */
    def encode(emb: DataFrame, model: M): DataFrame =
      emb.select(col("vec_id"), encoder(model)(col("embedding")))

    def writeModel(spark: SparkSession, model: M, dir: String): Unit =
      modelRow(spark, model).write.mode(SaveMode.Overwrite).parquet(dir)

    /** Per-JVM memo of a persisted model doc via [[graft.Readers.artifact]]
      * — the search paths load per invocation, and an unmemoized load is a
      * driver collect job each time; any lifecycle mutation bumps and
      * clears the entry.
      */
    def loadModel(spark: SparkSession, dir: String): M =
      graft.Readers.artifact(spark, dir)(readModel(spark.read.parquet(dir).collect()(0)))
  }

  /** Product quantization with `m` subspaces of `k` centroids each. Fit:
    * per-subspace Lloyd k-means on the first 256 vectors by id (driver-side
    * — the same footprint class as the LSH fit sample), seeded by the first
    * K sample subvectors, 10 iterations, ties broken by lowest code.
    * Distance: ADC — per query an M×K lookup table of squared L2 distances
    * between its subvectors and every codebook entry; a code's approximate
    * distance is then M table lookups + adds.
    */
  case class PQ(m: Int = 8, k: Int = 16) extends Codec[PqModel](s"pq:$m:$k", "pq", "codes") {

    def fit(emb: DataFrame): PqModel = {
      val rows = emb.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(256).collect()
      require(rows.length >= k, s"PQ fit needs >= $k sample vectors, got ${rows.length}")
      val sample = rows.map(_.getSeq[Float](1).toArray)
      val dim = sample(0).length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val subdim = dim / m
      val codebooks = Array.tabulate(m) { s =>
        kmeans(sample.map(v => v.slice(s * subdim, (s + 1) * subdim)), k, iterations = 10)
      }
      PqModel(m, k, subdim, codebooks)
    }

    def encoder(model: PqModel): Column => Column =
      v => VectorExpressions.pqEncode(v, model).as(codeCol)

    /** The model's own m and k are stored, so any PQ codec reads any PQ doc. */
    protected def modelRow(spark: SparkSession, model: PqModel): DataFrame = {
      import spark.implicits._
      Seq((model.m, model.k, model.subdim, model.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
        .toDF("m", "k", "subdim", "codebooks")
    }

    protected def readModel(r: Row): PqModel =
      PqModel(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getSeq[scala.collection.Seq[scala.collection.Seq[Float]]](3)
          .map(_.map(_.toArray).toArray).toArray)

    type Code = Array[Byte]
    private[operators] def stored(row: InternalRow, at: Int): Code = row.getBinary(at)
    private[operators] def encoded(model: PqModel, v: ArrayData): Code = model.encodeArrayData(v)
    private[operators] def scorer(model: PqModel, queries: Seq[Array[Float]]): (Code, Int) => Double =
      adcScorer(model, queries)
  }

  /** Scalar quantization, 4× compression with much higher per-dimension
    * fidelity than PQ (256 levels per dim vs 16 centroids per 8-dim
    * subspace) — the middle rung of FAISS's public IndexScalarQuantizer
    * ladder: pick SQ8 when memory allows 1 byte/dim and recall must stay
    * near-exact. Fit: per-dimension [min, max] over the corpus — one narrow
    * posexplode + a dim-keyed partial aggregate (64 groups move per
    * partition regardless of corpus size; order-independent, so bitwise
    * identical on any partitioning). Distance: ADC through
    * [[SqModel.asPqModel]].
    */
  case object SQ8 extends Codec[SqModel]("sq8", "sq", "codes") {

    def fit(emb: DataFrame): SqModel = {
      val rows = emb
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .orderBy(col("pos")).collect()
      SqModel(
        rows.length,
        rows.map(_.getFloat(1)),
        rows.map(r => (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0))
    }

    def encoder(model: SqModel): Column => Column =
      v => VectorExpressions.sq8Encode(v, model).as(codeCol)

    protected def modelRow(spark: SparkSession, model: SqModel): DataFrame = {
      import spark.implicits._
      Seq((model.dim, model.mins.toSeq, model.scales.toSeq)).toDF("dim", "mins", "scales")
    }

    protected def readModel(r: Row): SqModel =
      SqModel(r.getInt(0), r.getSeq[Float](1).toArray, r.getSeq[Double](2).toArray)

    type Code = Array[Byte]
    private[operators] def stored(row: InternalRow, at: Int): Code = row.getBinary(at)
    private[operators] def encoded(model: SqModel, v: ArrayData): Code = model.encodeArrayData(v)
    private[operators] def scorer(model: SqModel, queries: Seq[Array[Float]]): (Code, Int) => Double =
      adcScorer(model.asPqModel, queries)
  }

  /** Binary quantization: at dim 64 BQ matches PQ's 8-byte footprint, but
    * its distance is ONE xor + popcount instead of 8 table lookups — the
    * reason Lucene/ES ship it as their default coarse pass. Fit: one narrow
    * posexplode + a dim-keyed exact BIGINT aggregate (partition-independent,
    * like SQ8's). Distance: Hamming `bitCount(code ^ qcode)` against each
    * query's code — pure integer, the cheapest approximate scan the engine
    * has.
    */
  case object BQ extends Codec[BqModel]("bq", "bq", "code") {

    def fit(emb: DataFrame): BqModel = {
      val rows = emb
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(sum((col("x") * 1e6).cast("long")).as("s"), count(lit(1)).as("n"))
        .select(col("pos"), expr("s div n").as("thr6"))
        .orderBy(col("pos")).collect()
      BqModel(rows.length, rows.map(_.getLong(1)))
    }

    def encoder(model: BqModel): Column => Column =
      v => VectorExpressions.bqEncode(v, model).as(codeCol)

    protected def modelRow(spark: SparkSession, model: BqModel): DataFrame = {
      import spark.implicits._
      Seq((model.dim, model.thr6.toSeq)).toDF("dim", "thr6")
    }

    protected def readModel(r: Row): BqModel = BqModel(r.getInt(0), r.getSeq[Long](1).toArray)

    type Code = Long
    private[operators] def stored(row: InternalRow, at: Int): Code = row.getLong(at)
    private[operators] def encoded(model: BqModel, v: ArrayData): Code = model.encodeArrayData(v)
    private[operators] def scorer(model: BqModel, queries: Seq[Array[Float]]): (Code, Int) => Double = {
      val qcodes = queries.map(v => model.encodeSeq(v.toSeq)).toArray
      (code, q) => java.lang.Long.bitCount(code ^ qcodes(q)).toDouble
    }
  }

  /** Plain Lloyd iterations; seeds = first k points; an empty cluster keeps
    * its previous centroid. All-double accumulation in a fixed order over the
    * sample array ⇒ bitwise deterministic.
    */
  private def kmeans(points: Array[Array[Float]], k: Int, iterations: Int): Array[Array[Float]] = {
    val d = points(0).length
    var cents = Array.tabulate(k)(i => points(i).clone())
    var it = 0
    while (it < iterations) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0
          var i = 0
          while (i < d) {
            val x = p(i).toDouble - cents(c)(i).toDouble
            dist += x * x
            i += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** ADC of a code to each query, through the query's lookup table
    * (|Q|·M·K doubles, riding the task).
    */
  private def adcScorer(model: PqModel, queries: Seq[Array[Float]]): (Array[Byte], Int) => Double = {
    val luts = queries.map(model.lut).toArray
    (codes, q) => model.adc(luts(q), codes)
  }

  // ------------------------------------------------------------- lifecycle

  /** Persisted code index: `model/` (the codec's one-row doc) + `codes/`
    * (vec_id, code column, batch) — the artifact a real deployment scans,
    * 4× (SQ8) to 32× (PQ, BQ) smaller than the vectors parquet; a phase-1
    * scan over it never touches an embedding byte (PlanSpec asserts the
    * ReadSchema).
    */
  def build[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      emb: DataFrame,
      model: M,
      outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    codec.writeModel(spark, model, s"$outDir/model")
    codec.encode(emb, model)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  /** Incremental ingest: encode NEW vectors with the STORED model and
    * append their codes. Same lifecycle semantics as [[Index.append]]
    * (upsert supersede + tombstone resurface, shared via [[Lifecycle]]).
    */
  def append[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      indexDir: String,
      newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Nil),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      codec.encode(newVectors, codec.loadModel(spark, s"$indexDir/model"))
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .write.mode(SaveMode.Append).parquet(s"$indexDir/codes")
    }

  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  /** Purging compaction of the flat code table. See [[Lifecycle.vacuum]]. */
  def vacuum(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("codes" -> Nil))

  /** The live code table (tombstones and superseded versions filtered out
    * by the layout's driver-loaded [[Lifecycle.Liveness]]; plain scan until
    * the first delete / re-ingest).
    */
  def liveCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, graft.Readers.parquet(spark, s"$indexDir/codes"))

  /** Build-once cache keyed like [[Index.ensure]]: the index for (sfDir,
    * codec) lives in the JVM temp dir, keyed by the embeddings fixture's
    * mtime. Returns the index directory.
    */
  def ensure[M <: AnyRef](spark: SparkSession, codec: Codec[M], sfDir: String): String =
    buildOnce(spark, sfDir, codec.tag, codec.dirName) { dir =>
      val emb = Tables.embeddings(spark, sfDir)
      build(spark, codec, emb, codec.fit(emb), dir)
    }

  private def buildOnce(spark: SparkSession, sfDir: String, tag: String, dirName: String)(
      build: String => Unit): String = {
    val srcSig = Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val key = Index.cacheKey(s"$sfDir:$srcSig:$tag:v${Index.LayoutVersion}")
    val dir = new java.io.File(sys.props("java.io.tmpdir"), s"graft-$dirName-index-$key")
    if (!new java.io.File(dir, "codes/_SUCCESS").exists()) build(dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  // ---------------------------------------------------------------- search

  /** A quantized search: the GET of the query docs (vec_id < `queryMaxId`)
    * from the fixture in `sfDir`, phase 1 (`candidates`, each query's k1
    * nearest by approximate distance), then the exact re-rank of the
    * candidates in [[Knn.rerank]].
    */
  private def search(spark: SparkSession, sfDir: String, queryMaxId: Long, k2: Int)(
      candidates: (Knn.Fetch, Seq[(Long, Array[Float])]) => Map[Long, Seq[(Double, Long)]]): DataFrame = {
    val fetch = Knn.fixtureFetch(spark, sfDir)
    val queries = fetch.get(queryMaxId)
    Knn.rerank(spark, candidates(fetch, queries).map { case (q, c) => q -> c.map(_._2).toArray },
      fetch, queries.toMap, k2, dedupe = false)
  }

  /** Phase 1 of every quantized search: one job, under the job description
    * `description`, re-runs `scan` on the blocks `parts`; each task scores each row's
    * code (`code`) with the codec's scorer against the queries `probing`
    * picks for the row (None: every query; for IVF-PQ those probing its
    * cell) and keeps its top-k1 per query ([[Knn.nearest]]).
    */
  private def candidates[M <: AnyRef](
      codec: Codec[M],
      model: M,
      scan: PreparedScan,
      description: String,
      parts: Seq[Int],
      queries: Seq[(Long, Array[Float])],
      k1: Int,
      probing: Option[InternalRow => Array[Int]])(
      code: InternalRow => codec.Code): Map[Long, Seq[(Double, Long)]] = {
    val score = codec.scorer(model, queries.map(_._2))
    val every = queries.indices.toArray
    val picks = probing.getOrElse((_: InternalRow) => every)
    Knn.nearest(scan, description, parts, queries.map(_._1).toArray, k1) { (row, emit) =>
      if (!row.isNullAt(1)) {
        val c = code(row)
        picks(row).foreach(q => emit(q, score(c, q)))
      }
    }
  }

  /** The inline searches' fitted models, one fit per (codec, corpus) per
    * JVM — the [[Vectors.kmeansModel]] discipline: a fitted model is an
    * ARTIFACT (train once, reuse across every query in the session), so an
    * inline search never re-scans the corpus per invocation (the q25
    * lesson). Keyed by the codec's parameters and the corpus identity (path
    * + mtime). The build-once indexes fit afresh: they build once anyway,
    * and BuilderPlanLintSpec lints the fit pipelines through them.
    */
  private val fitMemo = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** q64 / q90 / q155 — quantized ANN over a freshly encoded corpus (no SQL
    * oracle — model-dependent; pinned by PqSpec's recall, full-rank-parity
    * and indexed ≡ inline tests): approximate scan over the codes → top-k1
    * → exact re-rank → top-k2. Output shape matches the other ANN gates.
    * Phase 1 re-runs the fixture's prepared (vec_id, embedding) scan, the
    * re-rank's own, encoding each row in the task.
    */
  def ann[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val srcSig = Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    val model = graft.Memo.once(fitMemo, s"${codec.tag}:$sfDir:$srcSig")(
      codec.fit(Tables.embeddings(spark, sfDir))).asInstanceOf[M]
    search(spark, sfDir, queryMaxId, k2) { (fetch, queries) =>
      candidates(codec, model, fetch.scan, "Pq.ann", fetch.scan.blocks.indices, queries, k1, None)(
        row => codec.encoded(model, row.getArray(1)))
    }
  }

  /** q71 / q91 / q156 — the same search against the PERSISTED code table:
    * identical semantics to [[ann]] (same deterministic fit ⇒ same codes ⇒
    * same results, asserted in PqSpec), but phase 1 scans `codes/` and only
    * the k1 re-rank rows ever read a real embedding. This is the plan that
    * holds at 100 TB: the approximate pass streams a compressed working set
    * with the query side riding the task.
    */
  def annIndexed[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame =
    searchIndex(spark, codec, ensure(spark, codec, sfDir), sfDir, queryMaxId, k1, k2)

  /** [[annIndexed]] against the code index in `indexDir`; the query docs
    * and the re-ranked vectors are the fixture's in `sfDir`.
    */
  def searchIndex[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      indexDir: String,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10): DataFrame =
    search(spark, sfDir, queryMaxId, k2)((_, queries) => indexCandidates(spark, codec, indexDir, queries, k1))

  /** Phase 1 of [[searchIndex]], each query's k1 nearest by the scores its
    * tasks rank by: the live (vec_id, code column) of `codes/`, prepared
    * once per layout epoch ([[graft.Readers.prepared]]).
    */
  private[graft] def indexCandidates[M <: AnyRef](
      spark: SparkSession,
      codec: Codec[M],
      indexDir: String,
      queries: Seq[(Long, Array[Float])],
      k1: Int): Map[Long, Seq[(Double, Long)]] = {
    val scan = graft.Readers.prepared(spark, Seq(indexDir, s"$indexDir/codes"), "codes") {
      PlanBridge.prepare(liveCodes(spark, indexDir).select(col("vec_id"), col(codec.codeCol)))
    }
    candidates(codec, codec.loadModel(spark, s"$indexDir/model"), scan, "Pq.annIndexed",
      scan.blocks.indices, queries, k1, None)(codec.stored(_, 1))
  }

  // ---------------------------------------------------------------- IVF-PQ

  /** Persisted IVF-PQ index: the classic composition (Jégou et al. §IVFADC)
    * — `centroids/` (the IVF coarse quantizer), `model/` (the [[PQ]] doc),
    * and `codes/` (vec_id, codes) PARTITIONED BY cell. A query prunes to
    * the files of nprobe cell directories (at the job, like
    * [[Vectors.annIvfIndexed]]) and ADC-scans only those cells' 8-byte
    * codes: the two multiplicative reductions — read 1/C of the corpus, at
    * 1/32 the bytes — compose.
    *
    * Built with externally trained models — the rebuild twin of
    * [[appendIvfPqIndex]], so append ≡ rebuild is testable under one fixed
    * (quantizer, codebook) pair.
    */
  def buildIvfPqIndexWith(
      spark: SparkSession,
      emb: DataFrame,
      cents: CentroidSet,
      pq: PqModel,
      outDir: String): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    import spark.implicits._
    cents.ids.zip(cents.vecs.map(_.toSeq)).toSeq
      .toDF("cell", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/centroids")
    PQ(pq.m, pq.k).writeModel(spark, pq, s"$outDir/model")
    encodedCells(emb, cents, pq)
      .withColumn(Lifecycle.BatchCol, lit(0L))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$outDir/codes")
    // Post-write bump: see Index.build — no pre-rebuild memo may survive.
    graft.Readers.bump()
  }

  private def encodedCells(emb: DataFrame, cents: CentroidSet, pq: PqModel): DataFrame =
    Vectors.assignCellsWith(emb, cents)
      .select(col("vec_id"), PQ(pq.m, pq.k).encoder(pq)(col("embedding")), col("cell"))

  /** Incremental IVF-PQ ingest: assign cells with the STORED quantizer,
    * encode with the STORED codebooks, append to the touched cell
    * directories only. Both models frozen at build time (see [[append]] /
    * [[Vectors.appendIvfIndex]]).
    */
  def appendIvfPqIndex(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit =
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("codes" -> Seq("cell")),
      stored = spark.read.parquet(s"$indexDir/codes")) { batch =>
      val cents = Vectors.loadCentroids(spark, s"$indexDir/centroids")
      encodedCells(newVectors, cents, PQ().loadModel(spark, s"$indexDir/model"))
        .withColumn(Lifecycle.BatchCol, lit(batch))
        .repartition(col("cell"))
        .write.mode(SaveMode.Append)
        .partitionBy("cell")
        .parquet(s"$indexDir/codes")
    }

  /** The live cell-partitioned code table — cell cast back to long (the
    * partition column is inference-typed on read).
    */
  def liveCellCodes(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir,
      graft.Readers.parquet(spark, s"$indexDir/codes")
        .withColumn("cell", col("cell").cast("long")))

  def ensureIvfPqIndex(
      spark: SparkSession,
      sfDir: String,
      cells: Int = 16,
      m: Int = 8,
      k: Int = 16): String =
    buildOnce(spark, sfDir, s"ivfpq:$cells:$m:$k", "ivfpq") { dir =>
      // coarse quantizer from the shared fitted-model artifact — one fit per
      // (corpus, cells) serves q25/q29/q72; identical deterministic centroids
      val emb = Tables.embeddings(spark, sfDir)
      buildIvfPqIndexWith(spark, emb,
        Vectors.kmeansModel(spark, sfDir, k = cells, iterations = 1), PQ(m, k).fit(emb), dir)
    }

  /** q72 — IVF-PQ ANN: probe nprobe cells (partition-pruned), ADC-scan their
    * codes, exact re-rank the k1 survivors. At nprobe = cells the candidate
    * set equals the flat ADC scan, so results must match [[ann]] with
    * [[PQ]] exactly — the PqSpec full-probe parity test; at nprobe < cells
    * the spec pins recall.
    */
  def annIvfPq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      cells: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      k: Int = 16): DataFrame =
    searchIvfPqIndex(spark, ensureIvfPqIndex(spark, sfDir, cells, m, k), sfDir, queryMaxId, k1, k2, nprobe)

  /** [[annIvfPq]] against the IVF-PQ index in `indexDir` (any m and k: the
    * model doc carries its own); the query docs and the re-ranked vectors
    * are the fixture's in `sfDir`. Phase 1 re-runs the live cell-partitioned
    * `codes/` on the files under the probed cell directories only, each
    * row scored against the queries probing its cell.
    */
  def searchIvfPqIndex(
      spark: SparkSession,
      indexDir: String,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      nprobe: Int = 4): DataFrame = {
    val codec = PQ()
    search(spark, sfDir, queryMaxId, k2) { (_, queries) =>
      val (scan, parts, probing) = Vectors.probedCells(spark, indexDir, "codes", codec.codeCol,
        queries.map(_._2), nprobe)(liveCellCodes(spark, indexDir))
      candidates(codec, codec.loadModel(spark, s"$indexDir/model"), scan, "Pq.annIvfPq", parts, queries, k1,
        Some(probing))(codec.stored(_, 1))
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64_pq_ann" -> ((s: SparkSession, d: String) => ann(s, PQ(), d)),
    "q71_pq_ann_indexed" -> ((s: SparkSession, d: String) => annIndexed(s, PQ(), d)),
    "q72_ivfpq_ann" -> ((s: SparkSession, d: String) => annIvfPq(s, d)),
    "q90_sq8_ann" -> ((s: SparkSession, d: String) => ann(s, SQ8, d)),
    "q91_sq8_ann_indexed" -> ((s: SparkSession, d: String) => annIndexed(s, SQ8, d)),
    "q155_bq_ann" -> ((s: SparkSession, d: String) => ann(s, BQ, d)),
    "q156_bq_ann_indexed" -> ((s: SparkSession, d: String) => annIndexed(s, BQ, d)))

  val oracles: Map[String, String] = Map.empty
}

package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.Tables

/** Random-hyperplane LSH over dense float vectors — the reference engine's
  * core model (SURVEY.md §2.A A1/A2, `[PUBREPO LshModel.java, conf=HIGH]`).
  *
  * Fit: from a deterministic sample of 2·tables·bits vectors, build
  * tables×bits hyperplanes; hyperplane (t,b) is defined by the *pair* of
  * sampled vectors (a, b): midpoint (a+b)/2 and normal (b−a). This is the
  * reference's data-adaptive variant of random-projection LSH — hyperplanes
  * bisect pairs of real data points rather than passing through the origin.
  *
  * Hash: for table t, bit b is `dot(v − midpoint[t][b], normal[t][b]) ≥ 0`;
  * bits pack into one Long per table ⇒ `array<bigint>` of length `tables`.
  *
  * MLlib's `BucketedRandomProjectionLSH` does NOT reproduce these semantics
  * (Gaussian projections + bucket width), so the fit/hash is implemented
  * directly; it is ~80 lines of pure Scala and the hot path is an
  * executor-side loop over a broadcast model.
  *
  * Scale notes (100 TB): the model is O(tables·bits·dim) floats (a few MB at
  * most) — always broadcast. Fitting collects only the sample (2·T·B rows) to
  * the driver. Hashing is a narrow map over the data — no shuffle — and
  * parallelizes across executors, fixing the reference's documented
  * single-coordinating-node hashing bottleneck (SURVEY.md §4.1).
  */
object Lsh {

  case class LshModel(
      tables: Int,
      bits: Int,
      dim: Int,
      midpoints: Array[Array[Float]], // (tables*bits) x dim
      normals: Array[Array[Float]]) { // (tables*bits) x dim

    /** One packed hash per table: bit b set iff v lies on the positive side
      * of hyperplane (t,b).
      */
    def hashVector(v: Array[Float]): Array[Long] = {
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var h = 0L
        var b = 0
        while (b < bits) {
          val plane = t * bits + b
          val mid = midpoints(plane)
          val nrm = normals(plane)
          var dot = 0.0
          var i = 0
          while (i < dim) {
            dot += (v(i) - mid(i)).toDouble * nrm(i).toDouble
            i += 1
          }
          if (dot >= 0.0) h |= (1L << b)
          b += 1
        }
        out(t) = h
        t += 1
      }
      out
    }

    /** Allocation-free variant over Catalyst [[ArrayData]] — shared by the
      * interpreted and codegen paths of the LshHash expression.
      */
    def hashArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Long] = {
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var h = 0L
        var b = 0
        while (b < bits) {
          val plane = t * bits + b
          val mid = midpoints(plane)
          val nrm = normals(plane)
          var dot = 0.0
          var i = 0
          while (i < dim) {
            dot += (v.getFloat(i) - mid(i)).toDouble * nrm(i).toDouble
            i += 1
          }
          if (dot >= 0.0) h |= (1L << b)
          b += 1
        }
        out(t) = h
        t += 1
      }
      out
    }
  }

  /** Hash width that keeps expected posting-list length ~`targetBucketSize`
    * as the corpus grows: `ceil(log2(N / target))`, clamped to [3, 16].
    *
    * Why it must scale: a bucket holds N/2^bits vectors on average, so at
    * FIXED bits every bucket grows linearly with the corpus and any
    * bucket-local pair work (the near-dup self-join, collision fan-out)
    * grows QUADRATICALLY. Deriving bits from N at build time bounds
    * E[bucket] ≤ 2·target at every scale — the difference between "correct
    * at sf0.1" and "the same plan at 100 TB". Explicit `bits` overrides
    * remain for tuning; the clamp floor keeps tiny corpora at the gate
    * fixtures' calibrated width (recall tuning), the ceiling caps model
    * size (fit needs 2·tables·bits sample vectors).
    */
  /** Model-size bound on derived hash width (fit needs 2·tables·bits sample
    * vectors; 16 keeps that and the 2^bits bucket space driver-safe).
    */
  val BitsCeiling = 16

  def deriveBits(corpusSize: Long, targetBucketSize: Long = 250): Int =
    math.min(BitsCeiling, math.max(3, rawBits(corpusSize, targetBucketSize)))

  private def rawBits(corpusSize: Long, targetBucketSize: Long): Int = {
    val ratio = math.max(corpusSize, 1L).toDouble / targetBucketSize
    math.ceil(math.log(ratio) / math.log(2.0)).toInt
  }

  /** True when the corpus outgrew the width ceiling: at bits = 16,
    * E[bucket] = N/2^16 passes `targetBucketSize` near N ≈ 16 M and grows
    * linearly again from there — the regime where bucket-local pair work
    * re-enters quadratic growth.
    */
  def bitsSaturated(corpusSize: Long, targetBucketSize: Long = 250): Boolean =
    rawBits(corpusSize, targetBucketSize) > BitsCeiling

  /** The saturation valve: once [[deriveBits]] clamps, posting lists must be
    * bounded EXPLICITLY ([[Skew.capBuckets]]) because the hash width no
    * longer can. 0 below the ceiling — gate fixtures take the uncapped path
    * and stay row-identical; past it, 4× the target bucket size (generous:
    * an E[bucket]-sized list is never truncated, only degenerate tails are)
    * hard-bounds collision fan-out at a measured recall cost.
    */
  def autoBucketCap(corpusSize: Long, targetBucketSize: Long = 250): Int =
    if (bitsSaturated(corpusSize, targetBucketSize)) (4 * targetBucketSize).toInt
    else 0

  /** Bucket-size target for PAIR MINING ([[Vectors.lshNearDupPairs]]) —
    * deliberately narrower than the search default (250). Search amortizes
    * a fat posting list over one probe per query (recall per probe);
    * pair mining pays Σ bucket² in its bucket-local self-join AND needs a
    * random pair's expected collision count (tables / 2^bits with uniform
    * buckets) well below minCollisions, or the candidate filter stops
    * filtering. 64 keeps the sf0.001 recall-spec fixture at the same
    * 3-bit width as before (500/64 → 3 bits: row-identical gates) while
    * growing the width with N instead of letting buckets fatten.
    */
  val PairTargetBucket = 64L

  /** Deterministic fit: sample = first 2·tables·bits vectors by id order
    * (never partition order, never unseeded `sample` — SURVEY.md §7 risk
    * list). Hyperplane i comes from sample pair (2i, 2i+1).
    */
  def fit(
      embeddings: DataFrame,
      tables: Int = 16,
      bits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): LshModel = {
    val need = 2 * tables * bits
    val rows = embeddings
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(need)
      .collect()
    require(rows.length >= need, s"LSH fit needs $need sample vectors, got ${rows.length}")
    val sample = rows.map(_.getSeq[Float](1).toArray)
    val dim = sample(0).length
    val planes = tables * bits
    val midpoints = new Array[Array[Float]](planes)
    val normals = new Array[Array[Float]](planes)
    var p = 0
    while (p < planes) {
      val a = sample(2 * p)
      val b = sample(2 * p + 1)
      val mid = new Array[Float](dim)
      val nrm = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        mid(i) = (a(i) + b(i)) / 2.0f
        nrm(i) = b(i) - a(i)
        i += 1
      }
      midpoints(p) = mid
      normals(p) = nrm
      p += 1
    }
    LshModel(tables, bits, dim, midpoints, normals)
  }

  /** Hash UDF over a broadcast model. v1 UDF per SURVEY §4.3 — swap for a
    * codegen Expression only if bench shows boxing dominating.
    */
  def hashUdf(bc: Broadcast[LshModel]): UserDefinedFunction =
    udf((v: Seq[Float]) => bc.value.hashVector(v.toArray))

  /** embeddings + `hashes` column (array<bigint>, one entry per table).
    * v2: native codegen expression (SURVEY §4.3) — the model rides the plan
    * as a reference object; no per-row Seq boxing. The v1 UDF remains as
    * [[hashUdf]] for comparison tests.
    */
  def withHashes(
      spark: SparkSession,
      df: DataFrame,
      model: LshModel,
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("hashes",
      org.apache.spark.sql.graft.VectorExpressions.lshHash(col(vecCol), model))

  /** Persist a fitted model (+ the index's numBuckets layout param) as a
    * one-row parquet — the `aknn_models` document of the reference (SURVEY
    * §2.A A1/A4), in an open format any engine can read back.
    */
  def saveModel(spark: SparkSession, model: LshModel, numBuckets: Int, dir: String): Unit = {
    import spark.implicits._
    Seq((model.tables, model.bits, model.dim, numBuckets,
        model.midpoints.map(_.toSeq).toSeq, model.normals.map(_.toSeq).toSeq))
      .toDF("tables", "bits", "dim", "num_buckets", "midpoints", "normals")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  /** Read a model written by [[saveModel]]. Returns (model, numBuckets).
    * Memoized per JVM through [[graft.Readers.artifact]] — the reference's
    * node-local model cache (SURVEY §2.A A4: `Map<uri, LshModel>` memoized
    * on first GET), keyed by (session, lifecycle epoch, model dir): every
    * search and append loads the model, and a rebuild into the same dir
    * bumps the epoch, so no search or append ever hashes with a replaced
    * model. The executors' copy rides the plan as a reference object.
    */
  def loadModel(spark: SparkSession, dir: String): (LshModel, Int) =
    graft.Readers.artifact(spark, dir) {
      val r = spark.read.parquet(dir).collect()(0)
      def planes(field: String): Array[Array[Float]] =
        r.getSeq[scala.collection.Seq[Float]](r.fieldIndex(field)).map(_.toArray).toArray
      val model = LshModel(
        r.getAs[Int]("tables"), r.getAs[Int]("bits"), r.getAs[Int]("dim"),
        planes("midpoints"), planes("normals"))
      (model, r.getAs[Int]("num_buckets"))
    }

  /** The hash table exploded to (id, table, hash) — the posting-list view the
    * collision-count join runs on (ES inverted-index analog, SURVEY §1.1).
    */
  def explodeHashes(hashed: DataFrame, idCol: String = "vec_id"): DataFrame =
    hashed.select(col(idCol), posexplode(col("hashes")).as(Seq("tbl", "hash")))

  /** Multiprobe expansion of a (id, tbl, hash) posting list: alongside the
    * exact hash, probe every hash within Hamming distance 1 in packed-bit
    * space (standard multiprobe LSH — each flip effectively widens the
    * bucket, lifting recall without adding tables/index size). Output keeps
    * the same (id, tbl, hash) shape, deduplicated.
    */
  def multiprobe(posts: DataFrame, bits: Int, idCol: String = "query_id"): DataFrame =
    posts
      .select(col(idCol), col("tbl"),
        explode(concat(
          array(col("hash")),
          expr(s"transform(sequence(0, ${bits - 1}), b -> hash ^ shiftleft(CAST(1 AS BIGINT), b))")
        )).as("hash"))
      .distinct()

  /** Gate query (no oracle — model-dependent; pinned by ScalaTest golden +
    * recall tests): per-vector packed hashes, exploded for a stable schema.
    * Output: (vec_id, tbl, hash).
    */
  def hashQuery(spark: SparkSession, sfDir: String, tables: Int = 16, bits: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val model = fit(emb, tables, bits)
    explodeHashes(withHashes(spark, emb, model))
      .orderBy(col("vec_id"), col("tbl"))
  }
}

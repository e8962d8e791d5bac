package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Curation, KnnExact}

class AuditSpec extends SparkSpec {

  private def unit(dim: Int, axis: Int, scale: Float = 1f): Array[Float] = {
    val v = Array.fill(dim)(0f); v(axis) = scale; v
  }

  test("q131 norms: fixture embeddings are unit-norm; planted violations flagged") {
    import spark.implicits._
    val fixture = Audit.embeddingNorms(spark, sf0001).collect()
    assert(fixture.nonEmpty)
    fixture.foreach { r =>
      assert(r.getAs[Long]("n_off_unit") == 0L, s"fixture off-unit: $r")
      assert(math.abs(r.getAs[Long]("min_norm_ppm") - 1000000L) <= 5000L)
      assert(math.abs(r.getAs[Long]("max_norm_ppm") - 1000000L) <= 5000L)
    }
    // Planted: one unit vector, one zero vector, one 2x-norm vector.
    val planted = Seq(
      (0L, unit(4, 0), 0),
      (1L, Array.fill(4)(0f), 0),
      (2L, unit(4, 1, 2f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Audit.embeddingNormsOf(planted, tolPpm = 5000L).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_vectors") == 3L)
    assert(got.head.getAs[Long]("n_off_unit") == 2L)
    assert(got.head.getAs[Long]("min_norm_ppm") == 0L)
    assert(got.head.getAs[Long]("max_norm_ppm") == 2000000L)
  }

  test("q133 coverage: planted missing vector and orphan vector are attributed") {
    import spark.implicits._
    val docs = Seq((1L, "web"), (2L, "web"), (3L, "books"))
      .toDF("doc_id", "source")
    val vecs = Seq(1L, 3L, 99L).toDF("vec_id")
    val got = Audit.embeddingCoverageOf(docs, vecs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("web") == ((2L, 1L, 0L)))       // doc 2 has no vector
    assert(got("books") == ((1L, 1L, 0L)))
    assert(got("(orphan)") == ((0L, 0L, 1L)))  // vec 99 has no doc
  }

  test("q130 label eval: planted tight clusters classify perfectly; a planted mislabel fails") {
    import spark.implicits._
    // Three tight clusters on distinct axes, 5 members each; queries are
    // ids 0-2, one per cluster. Members of a cluster are tiny rotations of
    // the axis vector so neighbors are unambiguous.
    def member(axis: Int, i: Int): Array[Float] = {
      val v = Array.fill(6)(0.001f * (i + 1)); v(axis) = 1f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = for (axis <- 0 until 3; i <- 0 until 5)
      yield ((axis + 3 * i).toLong, member(axis, i), axis)
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = KnnExact.knnLabelEvalOf(emb, queryMaxId = 3, k = 4).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getAs[Long]("n_queries") == 1L)
      assert(r.getAs[Long]("n_correct") == 1L, s"cluster misclassified: $r")
      assert(r.getAs[Long]("acc_ppm") == 1000000L)
    }
    // Flip query 0's label: its neighbors still vote the TRUE cluster, so
    // it must now be counted incorrect under its (wrong) stored label.
    val flipped = emb.withColumn("label",
      when(col("vec_id") === 0L, lit(9)).otherwise(col("label")))
    val got2 = KnnExact.knnLabelEvalOf(flipped, queryMaxId = 3, k = 4)
      .filter(col("label") === 9).collect()
    assert(got2.length == 1 && got2.head.getAs[Long]("n_correct") == 0L)
  }

  test("q139 ndcg: perfect neighborhood scores 1e6; singleton label is NULL; fixture bounded") {
    import spark.implicits._
    // Query 0's label (0) has >= k tight same-label neighbors on axis 0, so
    // all top-k hits are relevant -> dcg = ideal -> ndcg exactly 1e6.
    // Label 9 is a singleton: no achievable ideal -> NULL.
    def member(axis: Int, i: Int): Array[Float] = {
      val v = Array.fill(4)(0.0001f * (i + 1)); v(axis) = 1f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cluster = (0 until 12).map(i => (i.toLong, member(0, i), 0))
    val singleton = Seq((100L, member(1, 0), 9))
    val emb = (cluster ++ singleton).toDF("vec_id", "embedding", "label")
    val got = KnnExact.ndcgEvalOf(emb, queryMaxId = 1, k = 10).collect()
    assert(got.length == 1 && got.head.getAs[Long]("ndcg_ppm") == 1000000L, got.toSeq)
    val got9 = KnnExact.ndcgEvalOf(
      emb.withColumn("vec_id",
        when(col("vec_id") === 100L, 0L).otherwise(col("vec_id") + 100L)),
      queryMaxId = 1, k = 10).collect()
    assert(got9.length == 1 && got9.head.isNullAt(3),
      s"singleton label must yield NULL ndcg: ${got9.toSeq}")
    // Fixture sanity: every ndcg in [0, 1e6], one row per query.
    val fx = KnnExact.ndcgEval(spark, sf0001).collect()
    assert(fx.length == 32)
    fx.filterNot(_.isNullAt(3)).foreach { r =>
      val v = r.getAs[Long]("ndcg_ppm")
      assert(v >= 0L && v <= 1000000L, s"ndcg out of range: $r")
    }
  }

  test("q130 fixture: every query classified exactly once, counts consistent") {
    val got = KnnExact.knnLabelEval(spark, sf0001).collect()
    assert(got.map(_.getAs[Long]("n_queries")).sum == 32L)
    got.foreach { r =>
      val (nq, nc, acc) = (r.getAs[Long]("n_queries"),
        r.getAs[Long]("n_correct"), r.getAs[Long]("acc_ppm"))
      assert(nc >= 0L && nc <= nq)
      assert(acc == nc * 1000000L / nq)
    }
  }

  test("q137 centroid drift: planted shift lands exactly; identical and missing labels behave") {
    import spark.implicits._
    // label 0: centroid moves (1,0) -> (0,1): L1 drift 2.0 = 2,000,000 ppm
    // label 1: identical snapshots -> 0
    // label 2: present only in A -> NULL (unschedulable, not a crash)
    val a = Seq(
      (0, Array(1f, 0f)), (0, Array(1f, 0f)),
      (1, Array(0.5f, 0.5f)),
      (2, Array(1f, 1f)))
      .toDF("label", "embedding")
    val b = Seq(
      (0, Array(0f, 1f)), (0, Array(0f, 1f)),
      (1, Array(0.5f, 0.5f)))
      .toDF("label", "embedding")
    val got = Audit.centroidDriftOf(a, b).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    assert(got(0) == ((2L, 2L, 2000000L)), s"label0: ${got(0)}")
    assert(got(1) == ((1L, 1L, 0L)), s"label1: ${got(1)}")
    assert(got(2) == ((1L, 0L, -1L)), s"label2: ${got(2)}")
  }

  test("q136 fusion: exactly n per source; fused rank matches a driver Borda recompute") {
    val n = 10
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"), col("n_chars"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3).split(" ", -1).toSeq))
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      val sig = rows.map { case (_, id, chars, ts) =>
        (id, ts.distinct.size.toLong * 1000000L / ts.size,
          chars * 1000000L / ts.size, ts.size.toLong)
      }
      def rank(score: ((Long, Long, Long, Long)) => Long): Map[Long, Int] =
        sig.sortBy(s => (-score(s), s._1)).zipWithIndex
          .map { case (s, i) => s._1 -> (i + 1) }.toMap
      val (r1, r2, r3) = (rank(_._2), rank(_._3), rank(_._4))
      sig.map(s => (s._1, (r1(s._1) + r2(s._1) + r3(s._1)).toLong))
        .sortBy { case (id, f) => (f, id) }.take(n).zipWithIndex
        .map { case ((id, f), i) => (src, i + 1, id, f) }
    }.sortBy { case (s, rn, _, _) => (s, rn) }
    val got = Curation.qualityFusion(spark, sf0001, n).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("q141 index health: healthy fixture index reports zeros and full counts") {
    val got = Audit.indexHealth(spark, sf0001).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_vectors") == 500L)
    assert(r.getAs[Long]("n_postings") == 500L * 32) // (id, key) postings of 32 tables
    assert(r.getAs[Long]("n_orphan_ids") == 0L)
    assert(r.getAs[Long]("n_orphan_postings") == 0L)
    assert(r.getAs[Boolean]("healthy"))
  }

  test("q148 fingerprint: permutation-invariant, single-char-sensitive, source-attributed") {
    import spark.implicits._
    val a = Seq((1L, "web", "aa bb"), (2L, "web", "cc"), (3L, "books", "dd"))
      .toDF("doc_id", "source", "text")
    val permuted = Seq((3L, "books", "dd"), (1L, "web", "aa bb"), (2L, "web", "cc"))
      .toDF("doc_id", "source", "text")
    val mutated = Seq((1L, "web", "aa bc"), (2L, "web", "cc"), (3L, "books", "dd"))
      .toDF("doc_id", "source", "text")
    def fp(df: org.apache.spark.sql.DataFrame) =
      Audit.corpusFingerprintOf(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = fp(a)
    assert(fp(permuted) == base, "row order must not change the fingerprint")
    val mut = fp(mutated)
    assert(mut("web") != base("web") && mut("(all)") != base("(all)"),
      "a one-character change must flip the affected fingerprints")
    assert(mut("books") == base("books"),
      "an untouched source's fingerprint must not move")
  }

  test("q132 deciles: equal-depth per source, full coverage, nested bounds") {
    val docs = Tables.documents(spark, sf0001)
    val total = docs.count()
    val got = Curation.qualityDeciles(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("n_docs"),
        r.getAs[Long]("min_q_ppm"), r.getAs[Long]("max_q_ppm")))
    assert(got.map(_._3).sum == total)
    got.groupBy(_._1).foreach { case (src, rows) =>
      val counts = rows.sortBy(_._2).map(_._3)
      // ntile contract: bucket sizes differ by at most one, larger first
      assert(counts.max - counts.min <= 1L, s"$src: $counts")
      assert(counts.sameElements(counts.sortBy(-_)), s"$src larger-first: $counts")
      // quality bounds nest: decile i's floor >= decile i+1's ceiling
      val ordered = rows.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array(hi, lo) => assert(hi._4 >= lo._5, s"$src bounds: $hi vs $lo")
        case _ =>
      }
    }
  }
  test("column correlations: planted perfect, anti, and degenerate relationships") {
    import spark.implicits._
    // sA: y = 2x + 3 (corr 1), sB: y = -x (corr -1), sC: zero variance (null)
    val pairs = ((1L to 20L).map(x => ("sA", x, 2 * x + 3)) ++
      (1L to 20L).map(x => ("sB", x, -x)) ++
      (1L to 20L).map(_ => ("sC", 5L, 7L))).toDF("source", "x", "y")
    val got = Audit.columnCorrelationsOf(pairs).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got("sA").contains(1.0), got.toString)
    assert(got("sB").contains(-1.0), got.toString)
    assert(got("sC").isEmpty, got.toString)
  }

  test("matrix stats: full 3x3 matrix matches a driver moment recompute") {
    val got = Audit.matrixStats(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    assert(got.size == 9)
    val vals = Tables.lineitem(spark, sf0001)
      .select(col("l_quantity"), col("l_discount"), col("l_tax")).collect()
      .map(r => Array(math.round(r.getDouble(0)),
        math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 100)))
    val n = vals.length.toLong
    def r4(x: Double) =
      math.floor(x * 1e4 + 0.5) / 1e4 // house display quantizer (Det.display)
    val names = Seq("quantity", "discount", "tax")
    for (i <- 0 to 2; j <- 0 to 2) {
      val (x, y) = (vals.map(_(i)), vals.map(_(j)))
      val (s1x, s2x) = (x.sum, x.map(v => v * v).sum)
      val (s1y, s2y) = (y.sum, y.map(v => v * v).sum)
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      val (a2x, a2y) = (n * s2x - s1x * s1x, n * s2y - s1y * s1y)
      val axy = n * sxy - s1x * s1y
      val cell = got((names(i), names(j)))
      assert(cell._1 == n)
      assert(cell._2 == r4(s1x.toDouble / n), s"mean ${names(i)}")
      assert(cell._3 == r4(a2x.toDouble / (n * (n - 1))), s"var ${names(i)}")
      // central-moment skew/kurt: driver recompute over exact sums
      val m1 = s1x.toDouble / n
      val m2 = s2x.toDouble / n - m1 * m1
      val m3 = x.map(v => v * v.toDouble * v).sum / n - 3.0 * m1 * (s2x.toDouble / n) +
        2.0 * m1 * m1 * m1
      val m4 = x.map(v => v.toDouble * v * v * v).sum / n -
        4.0 * m1 * (x.map(v => v * v.toDouble * v).sum / n) +
        6.0 * m1 * m1 * (s2x.toDouble / n) - 3.0 * m1 * m1 * m1 * m1
      assert(math.abs(cell._4 - m3 / (math.sqrt(m2) * m2)) < 1e-3, s"skew ${names(i)}")
      assert(math.abs(cell._5 - m4 / (m2 * m2)) < 1e-3, s"kurt ${names(i)}")
      assert(cell._6 == r4(axy.toDouble / (n * (n - 1))), s"cov $i,$j")
      assert(cell._7 == r4(axy.toDouble /
        (math.sqrt(a2x.toDouble) * math.sqrt(a2y.toDouble))), s"corr $i,$j")
      // matrix contracts: symmetry + unit diagonal
      assert(got((names(j), names(i)))._6 == cell._6, "cov symmetric")
      if (i == j) assert(cell._7 == 1.0, "diagonal correlation")
    }
  }

  test("property: column correlations match a driver recompute on seeded noise") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val data = (1 to 300).map { _ =>
      val x = 10L + rng.nextInt(90)
      (s"src${rng.nextInt(3)}", x, x + rng.nextInt(20))
    }
    val got = Audit.columnCorrelationsOf(data.toDF("source", "x", "y"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = data.groupBy(_._1).map { case (src, rows) =>
      val n = rows.size.toLong
      val sx = rows.map(_._2).sum
      val sy = rows.map(_._3.toLong).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      val syy = rows.map(r => r._3.toLong * r._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      src -> (math.floor((n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble)) * 1e4 + 0.5) / 1e4)
    }
    assert(got == want, s"got $got want $want")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{KnnExact, Vectors}

class VectorsSpec extends SparkSpec {

  test("matryoshka truncation: full-width is identity; half-width recalls above floor") {
    import graft.operators.KnnExact
    // dims = 64 slices the whole vector — the ranking must equal full
    // cosine EXACTLY (same expression, same tie-breaks), pinning that the
    // truncated path differs from q21 only by the slice.
    val full = KnnExact.topKCosine(spark, sf0001).collect().toSeq
    val id64 = KnnExact.topKCosineTrunc(spark, sf0001, dims = 64).collect().toSeq
    assert(id64 == full, "dims=64 truncation must be the identity ranking")
    // The fixture embeddings are RANDOM (signal uniform across dims), the
    // worst case for prefix truncation — MRL-trained vectors concentrate
    // salience up front. Floor is accordingly loose; the RecallSweep rows
    // document the measured ladder (0.275 at dims=32 on sf0.001).
    val fullSet = full.map(r => (r.getLong(0), r.getLong(1))).toSet
    val half = KnnExact.topKCosineTrunc(spark, sf0001, dims = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (fullSet & half).size.toDouble / fullSet.size
    assert(recall >= 0.1, f"half-dim recall collapsed: $recall%.3f")
  }

  test("centroid affinity matches a driver-side recompute exactly") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // seed centroid from scaled-long sums, the CentroidAgg contract
    val seed = emb.filter(_._2 == 0)
    val dim = seed.head._3.length
    val sums = new Array[Long](dim)
    seed.foreach { case (_, _, v) =>
      var i = 0
      while (i < dim) {
        // house half-up quantizer (Det.quant / CentroidAgg contract)
        sums(i) += math.floor(v(i).toDouble * 1e6 + 0.5).toLong
        i += 1
      }
    }
    val c = sums.map(s => s / 1e6 / seed.length)
    def round4(x: Double): Double =
      math.floor(x * 1e4 + 0.5) / 1e4 // house display quantizer (Det.display)
    val expect = emb.filter(_._2 != 0).map { case (id, lbl, v) =>
      var dot = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
      while (i < dim) {
        dot += v(i).toDouble * c(i); nv += v(i).toDouble * v(i).toDouble
        nc += c(i) * c(i); i += 1
      }
      (id, lbl, round4(dot / (math.sqrt(nv) * math.sqrt(nc))))
    }.sortBy { case (id, _, a) => (-a, id) }.take(40).toSeq
    val got = Vectors.centroidAffinity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == expect)
    // affinity to one class centroid must spread, or the screen is vacuous
    assert(got.map(_._3).distinct.size > 1)
  }

  test("hard negatives: band and ranking match a driver-side brute force") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < 4)
    val expect = queries.flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .filter { case (_, s) => s >= 0.05 && s < 0.25 }
        .sortBy { case (id, s) => (-s, id) }
        .take(10).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1) }
    }.sortBy { case (q, _, r) => (q, r) }.toSeq
    val got = KnnExact.hardNegatives(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expect)
    assert(got.nonEmpty && got.groupBy(_._1).size == 4, "every anchor must mine negatives")
  }

  test("centroid affinity: an absent seed label yields an empty result, not null garbage") {
    val out = Vectors.centroidAffinity(spark, sf0001, seedLabel = 99).collect()
    assert(out.isEmpty, s"expected empty selection for an empty seed class, got ${out.length} rows")
  }

  test("ivf ann: recall@10 vs exact, and never returns self") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Vectors.annIvf(spark, sf0001, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.forall { case (q, n) => q != n })
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"ivf recall=$recall (nprobe=4/16 cells on random data)")
  }

  test("ivf ann: probing all cells equals exact knn") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 4, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Vectors.annIvf(spark, sf0001, queryMaxId = 4, k = 5, cells = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nprobe=cells must degrade to exact search")
  }

  test("indexed ivf returns identical results to the inline path") {
    val inline = Vectors.annIvf(spark, sf0001, queryMaxId = 8, k = 10)
      .collect().map(_.toSeq).toSeq
    val indexed = Vectors.annIvfIndexed(spark, sf0001, queryMaxId = 8, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("centroid aggregator matches naive per-dimension mean") {
    val rows = Tables.embeddings(spark, sf0001)
      .filter(col("label") === 3)
      .collect().map(_.getSeq[Float](1).toArray)
    val dim = rows(0).length
    val naive = (0 until dim).map(d => rows.map(_(d).toDouble).sum / rows.length)
    val got = Vectors.labelCentroids(spark, sf0001)
      .filter(col("label") === 3)
      .orderBy(col("dim"))
      .collect().map(r => r.getDouble(2))
    assert(got.length == dim)
    naive.zip(got).foreach { case (n, g) =>
      assert(math.abs(n - g) < 2e-4, s"naive=$n udaf=$g")
    }
  }

  test("cell assignment is a narrow map: no exchange, no window, no join") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = Vectors.assignCells(spark, emb, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"cell assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"cell assignment windows:\n$plan")
    assert(!plan.contains("Join"), s"cell assignment joins:\n$plan")
  }

  test("quantizer refinement is deterministic and actually moves the seeds") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = Vectors.quantizer(spark, emb, 16)
    val b = Vectors.quantizer(spark, emb, 16)
    assert(a.ids.toSeq == b.ids.toSeq)
    assert(a.vecs.map(_.toSeq).toSeq == b.vecs.map(_.toSeq).toSeq)
    val seeds = Vectors.collectCentroids(emb, 16)
    assert(a.vecs.map(_.toSeq).toSeq != seeds.vecs.map(_.toSeq).toSeq,
      "Lloyd pass should move the seed centroids")
  }

  test("cell assignment covers every vector exactly once") {
    val emb = Tables.embeddings(spark, sf0001)
    val assigned = Vectors.assignCells(spark, emb, cells = 16)
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
    val nCells = assigned.select("cell").distinct().count()
    assert(nCells > 1 && nCells <= 16)
  }

  test("in-place rebuild clears stale lifecycle markers (upserted and deleted ids live again)") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Vectors.quantizer(spark, emb, cells = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    Vectors.buildIvfIndexWith(spark, emb, cents, dir)
    // Mutate the layout: delete one id, upsert another (leaves a
    // superseded/(7, live_from>0) marker and a tombstone for 42)
    Vectors.deleteFromIvfIndex(spark, dir, Seq(42L))
    val changed = emb.filter(col("vec_id") === 7L)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Vectors.appendIvfIndex(spark, dir, changed)
    // From-scratch rebuild into the SAME directory: every row is batch 0
    // again; stale markers from the previous life must not kill them.
    Vectors.buildIvfIndexWith(spark, emb, cents, dir)
    val live = Vectors.liveCells(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live.contains(42L), "rebuild must clear the old tombstone")
    assert(live.contains(7L), "stale supersede marker killed the rebuilt batch-0 row")
    assert(live.size == emb.count(), "rebuild must serve exactly the corpus")
  }

  test("derived k keeps expected cluster size bounded across corpus scales") {
    // mirror of Lsh.deriveBits's spec (judge r3 finding #1): the cluster
    // count must grow with the corpus so per-cell pair work stays linear
    import org.apache.spark.sql.functions.lit
    def kFor(n: Long): Int = {
      val df = spark.range(n).select(col("id").as("vec_id"), lit(1).as("x"))
      Vectors.deriveK(df)
    }
    assert(kFor(500) == 8)        // fixture floor
    assert(kFor(5000) == 78)      // sf0.1
    // Ceiling 4096 — bounded by DRIVER memory, not shuffle width: Lloyd
    // refinement collects k·dim aggregate rows per iteration (see deriveK's
    // scaladoc). Past the ceiling, cells grow instead of the driver heap.
    assert(kFor(1000000) == 4096)
    assert(kFor(5000000) == 4096)
    (Seq(1000L, 10000L, 100000L)).foreach { n =>
      val e = n.toDouble / kFor(n)
      assert(e <= 128.0 || kFor(n) == 4096,
        s"n=$n E[cell]=$e — pair work no longer linear in N")
    }
  }

  test("kmeans clusters: sizes cover the corpus, stats match a driver recompute") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Vectors.kmeansClusters(spark, sf0001, k = 8).collect()
    assert(got.map(_.getLong(1)).sum == emb.count(), "cluster sizes must cover the corpus")
    // same deterministic fit → same assignment → same per-cluster mean dist
    val cents = Vectors.quantizer(spark, emb, 8, iterations = 3)
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    val byCell = rows.groupBy { case (_, v) => cents.nearestArray(v, 1)(0) }
    got.foreach { r =>
      val cell = r.getLong(0)
      val members = byCell(cell)
      assert(r.getLong(1) == members.length, s"cluster $cell size")
      val centroid = cents.vecs(cents.ids.indexOf(cell))
      val want = members.map { case (_, v) =>
        math.round(l2(v, centroid) * 1e6) }.sum.toDouble / members.length / 1e6
      assert(math.abs(r.getDouble(2) - want) <= 5.001e-5, s"cluster $cell avg dist")
    }
    // determinism across invocations (DetCheck covers partitioning variance)
    val again = Vectors.kmeansClusters(spark, sf0001, k = 8).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("semantic near-dups: intra-cluster pairs, exact sims, correct ranking") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Vectors.quantizer(spark, emb, Vectors.deriveK(emb), iterations = 3)
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cellOf = rows.map { case (id, v) => id -> cents.nearestArray(v, 1)(0) }.toMap
    val vecOf = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    val got = Vectors.semanticNearDupPairs(spark, sf0001, k = 20).collect()
    assert(got.length == 20)
    got.foreach { r =>
      val (i, j) = (r.getLong(0), r.getLong(1))
      assert(cellOf(i) == cellOf(j) && cellOf(i) == r.getLong(2), s"pair ($i,$j) not intra-cluster")
      assert(math.abs(r.getDouble(3) - cos(vecOf(i), vecOf(j))) < 1e-3)
    }
    // the emitted pairs are the TRUE top-20 among all intra-cluster pairs
    val brute = (for {
      (i, vi) <- rows; (j, vj) <- rows
      if i < j && cellOf(i) == cellOf(j)
    } yield ((i, j), cos(vi, vj))).sortBy { case ((i, j), s) => (-s, i, j) }
      .take(20).map(_._1).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == brute)
  }

  test("semantic dedup corpus: planted near-dup embeddings collapse to lowest id") {
    import spark.implicits._
    // 3 well-separated base directions + planted near-copies of base 0
    val dim = 8
    def unit(axis: Int): Array[Float] = Array.tabulate(dim)(i => if (i == axis) 1f else 0f)
    def jitter(v: Array[Float], eps: Float): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }.toSeq
    val data = Seq(
      (0L, unit(0).toSeq), (1L, unit(1).toSeq), (2L, unit(2).toSeq),
      (10L, jitter(unit(0), 0.01f)), // near-dup of 0
      (11L, jitter(unit(1), 0.01f)), // near-dup of 1
      (12L, jitter(unit(2), 0.30f))) // NOT a near-dup (cos ~0.76)
      .toDF("vec_id", "embedding")
    val survivors = Vectors.semanticDedupCorpus(spark, data, threshold = 0.95, clusters = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(0L) && survivors.contains(1L) && survivors.contains(2L))
    assert(!survivors.contains(10L) && !survivors.contains(11L),
      s"planted near-dups must drop: $survivors")
    assert(survivors.contains(12L), "a sub-threshold vector must survive")
  }

  test("q96 semantic dedup gate: survivor set is non-trivial and deterministic") {
    val out = Vectors.semanticDedupSummary(spark, sf0001).collect()
    val survivors = out.map(_.getLong(1)).sum
    val n = Tables.embeddingsCount(spark, sf0001)
    // the synthetic threshold must actually drop rows AND actually keep rows
    assert(survivors > 0 && survivors < n, s"trivial survivor set: $survivors of $n")
    val again = Vectors.semanticDedupSummary(spark, sf0001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("lsh near-dup pairs: recall vs exact top-20, exact sims, determinism") {
    // Exact top-20 cosine pairs over the FULL sf0.001 corpus (500 vectors).
    val exact = Vectors.topCosinePairs(spark, sf0001, maxId = 1000, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Vectors.lshNearDupPairs(spark, sf0001).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    // Random unit vectors are the LSH worst case (max pairwise cosine ≈0.4,
    // no cluster structure); measured recall ≈0.8 at these params.
    assert(recall >= 0.6, s"recall=$recall of ${exact.size} exact pairs")
    // The emitted sims are EXACT cosines of the pair (verification property).
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { r =>
      val (vi, vj) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      val dot = vi.zip(vj).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val sim = dot / (math.sqrt(vi.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(vj.map(x => x.toDouble * x.toDouble).sum))
      assert(math.abs(sim - r.getDouble(3)) < 1e-3)
    }
    val again = Vectors.lshNearDupPairs(spark, sf0001).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("distributed Lloyd (centroid table) is BITWISE equal to the driver-array path") {
    // The past-KCeiling path: same seeds, same squared-L2 double
    // accumulation, same (d2, cell-asc) argmin, same scaled-long → double
    // divide → float cast refinement — so centroids AND assignments must
    // match to the last bit at any k (here a small k the driver path can
    // also run, multiple iterations so empty-cell carry and re-assignment
    // churn are both exercised).
    val emb = Tables.embeddings(spark, sf0001)
    val k = 16
    val iters = 3
    val cents = Vectors.quantizer(spark, emb, k, iters)
    val table = Vectors.quantizerTable(spark, emb, k, iters)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(table.keySet == cents.ids.toSet)
    cents.ids.zip(cents.vecs).foreach { case (id, vec) =>
      val tv = table(id)
      assert(tv.length == vec.length, s"cell $id dim mismatch")
      tv.zip(vec).zipWithIndex.foreach { case ((a, b), d) =>
        assert(java.lang.Float.floatToRawIntBits(a) == java.lang.Float.floatToRawIntBits(b),
          s"cell $id dim $d: table=$a driver=$b (not bitwise equal)")
      }
    }
    // assignment parity over the SAME fitted model — INCLUDING the
    // embedding column: the r12 argmin+join-back rewrite changed how the
    // output embedding is produced (previously min_by-selected from the
    // pair stream, now re-joined from the input by vec_id), so pin
    // bitwise that the joined-back embedding is the input row's.
    import spark.implicits._
    def embKey(s: Seq[Float]): Seq[Int] = s.map(java.lang.Float.floatToRawIntBits)
    val centDf = cents.ids.zip(cents.vecs.map(_.toSeq)).toSeq.toDF("cell", "centroid")
    val viaTable = Vectors.assignCellsWithTable(emb, centDf)
      .select("vec_id", "cell", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), embKey(r.getSeq[Float](2)))).toSet
    val viaArray = Vectors.assignCellsWith(emb, cents)
      .select("vec_id", "cell", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), embKey(r.getSeq[Float](2)))).toSet
    assert(viaTable == viaArray)
    graft.operators.Materialize.releaseAll()
  }

  test("deriveNprobe policy: coarseK/8 floored at 8, capped at coarseK") {
    import graft.operators.Vectors
    // small coarse grids derive EXACT assignment for free (floor ≥ coarseK)
    assert(Vectors.deriveNprobe(1) == 1)
    assert(Vectors.deriveNprobe(4) == 4)
    assert(Vectors.deriveNprobe(8) == 8)
    // the floor holds through mid grids (the agreement knee, SCALING.md)
    assert(Vectors.deriveNprobe(17) == 8)
    assert(Vectors.deriveNprobe(64) == 8)
    // past 64 the fixed fraction takes over: candidate width stays k/8
    assert(Vectors.deriveNprobe(256) == 32)
    assert(Vectors.deriveNprobe(1024) == 128)
    // monotone, and never exceeds coarseK (exactness is the upper bound)
    (1 to 2048).foldLeft(0) { (prev, ck) =>
      val np = Vectors.deriveNprobe(ck)
      assert(np >= prev && np <= ck, s"coarseK=$ck derived $np")
      np
    }
    // the default operating point of the hierarchical assigner IS the
    // derived one: an unspecified nprobe must behave exactly like passing
    // deriveNprobe(coarseK) — here coarseK=4 → derived 4 = coarseK → the
    // bitwise-exact regime, so equality with flat pins the wiring.
    val emb = Tables.embeddings(spark, sf0001).limit(120)
    val cents = Vectors.seedCentroidsTable(emb, 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaDefault = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 4))
    val viaExplicit = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 4))
    assert(viaDefault == viaExplicit)
    assert(viaDefault == pairs(Vectors.assignCellsWithTable(emb, cents)))
    graft.operators.Materialize.releaseAll()
  }

  test("derived-default nprobe holds its agreement floor in an approximating regime") {
    import graft.operators.Vectors
    // coarseK=16 > the 8-probe floor, so the derived default probes HALF
    // the coarse cells — a genuinely approximating operating point (the
    // sf1 NprobeSweep regimes are driver-scale; this pins the same curve
    // at spec scale). Fixture is random unit vectors — the worst case for
    // any coarse geometry — so the floor is measured-minus-0.1 (the
    // RecallFloors discipline), not a hoped-for number.
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Vectors.seedCentroidsTable(emb, 128)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val flat = pairs(Vectors.assignCellsWithTable(emb, cents))
    val hier = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 16))
    assert(hier.keySet == flat.keySet, "derived default must still assign every vector")
    val agree = flat.count { case (v, c) => hier(v) == c }.toDouble / flat.size
    // measured 0.826 on this fixture; floor at measured − 0.1
    info(f"derived-default agreement at coarseK=16, k=128: $agree%.3f")
    assert(agree >= 0.72, f"derived-default agreement $agree%.3f under floor")
    graft.operators.Materialize.releaseAll()
  }

  test("derived-default nprobe on CLUSTERED geometry: agreement floor far above the random-unit case") {
    import graft.operators.Vectors
    // r13 verdict order (r14): the random-unit floor above is the WORST
    // case — every cell boundary a near-tie. This pins the geometry the
    // operator actually serves (SemDeDup blobs): planted clusters, one
    // per fine cell on average, centers ~14x the noise radius apart
    // (NprobeSweep.plantedClusters — the same generator as the sf1 sweep
    // rows in SCALING.md). Same operating point as the random-unit spec:
    // coarseK=16 -> derived nprobe=8, half the coarse cells probed.
    val n = 2048L
    val centers = 128
    val emb = graft.tools.NprobeSweep.plantedClusters(spark, n, centers, dim = 64)
    val cents = Vectors.seedCentroidsTable(emb, centers)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val flat = pairs(Vectors.assignCellsWithTable(emb, cents))
    val hier = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 16))
    assert(hier.keySet == flat.keySet, "derived default must still assign every vector")
    val agree = flat.count { case (v, c) => hier(v) == c }.toDouble / flat.size
    info(f"clustered-geometry agreement at coarseK=16, k=$centers: $agree%.3f")
    // measured 1.000 on this fixture (see the recorded value in the
    // SCALING.md nprobe table); floor at measured - 0.05 — tighter than
    // the random-unit floor's -0.1 band because the clustered verdict is
    // not a near-tie coin flip
    assert(agree >= 0.95, f"clustered agreement $agree%.3f under floor")
    graft.operators.Materialize.releaseAll()
  }

  test("assignCells duplicate-vec_id fan-out is the documented join-back cardinality") {
    // The vec_id-uniqueness PRECONDITION on assignCellsWithTable /
    // assignCellsHierarchical (scaladoc'd in r13): under the engine's
    // store contract ids are unique, but the r12 join-back rewrite made
    // that contract load-bearing — duplicate input rows now fan out one
    // output row each (the pre-r12 groupBy form silently deduped them).
    // Pin the fan-out so a future caller with duplicate ids gets the
    // DOCUMENTED cardinality, not a silent behavior drift.
    val emb = Tables.embeddings(spark, sf0001).limit(40)
    val dup = emb.union(emb.limit(5)) // 5 ids appear twice: 45 input rows
    val cents = Vectors.seedCentroidsTable(emb, 8)
    val out = Vectors.assignCellsWithTable(dup, cents)
    assert(out.count() == 45, "join-back must emit one row per duplicate input row")
    // every duplicated id agrees on its cell (the argmin is per-id, the
    // fan-out only replicates the verdict)
    val conflicting = out.groupBy(col("vec_id"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("cell")).as("nc"))
      .filter(col("nc") > 1).count()
    assert(conflicting == 0)
    graft.operators.Materialize.releaseAll()
  }

  test("centroid-table assignment refuses actionably past the broadcast budget") {
    // The pinnedFits-style size gate on assignCellsWithTable: past
    // CentroidBroadcastMaxBytes the BNLJ must REFUSE with the documented
    // remedy, never OOM an executor mid-broadcast. A tiny explicit budget
    // stands in for a past-ceiling corpus.
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Vectors.seedCentroidsTable(emb, 32)
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .limit(1).collect()(0).getInt(0)
    // budget admits at most 8 centroids of this dim; 32 must refuse
    val tiny = 8L * 4L * dim
    val e = intercept[IllegalArgumentException] {
      Vectors.assignCellsWithTable(emb, cents, maxBroadcastBytes = tiny).count()
    }
    assert(e.getMessage.contains("broadcast budget"))
    assert(e.getMessage.contains("assignCellsHierarchical"), "refusal must name the remedy")
    // and the same table passes under the default budget — the gate is a
    // valve, not a behavior change below it
    assert(Vectors.assignCellsWithTable(emb, cents).count() == emb.count())
    graft.operators.Materialize.releaseAll()
  }

  test("hierarchical assignment: exact at nprobe=coarseK; IVF-approximate below") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Vectors.seedCentroidsTable(emb, 32)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val flat = pairs(Vectors.assignCellsWithTable(emb, cents))
    // probing every coarse cell makes every fine centroid a candidate —
    // the two formulations must agree bitwise (same l2sq, same tie-break)
    val full = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 4))
    assert(full == flat, "nprobe = coarseK must reproduce flat assignment exactly")
    // sub-full nprobe is the standard IVF approximation: still a total
    // assignment (every vector exactly one cell), agreement MEASURED, not
    // assumed — random unit vectors are the worst case for any coarse
    // geometry (measured on this fixture: 0.47 at nprobe=1/4, 0.78 at
    // nprobe=2/4; floors at measured−0.1, the RecallFloors discipline)
    val probe1 = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 1))
    assert(probe1.keySet == flat.keySet, "approximation must still cover every vector")
    def agree(m: Map[Long, Long]) = flat.count { case (v, c) => m(v) == c }.toDouble / flat.size
    assert(agree(probe1) >= 0.37, s"nprobe=1 agreement ${agree(probe1)} collapsed")
    val probe2 = pairs(Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 2))
    assert(agree(probe2) >= agree(probe1) - 1e-9,
      "agreement must not degrade as nprobe grows")
    assert(agree(probe2) >= 0.68, s"nprobe=2 agreement ${agree(probe2)} below floor")
    graft.operators.Materialize.releaseAll()
  }

  test("hierarchical assignment stays TOTAL on a duplicate-seed degenerate corpus") {
    // The one construction that can produce an EMPTY coarse cell: bitwise-
    // identical duplicate centroids among the coarse seeds (the duplicate
    // with the larger ccell loses every step-2 tie and keeps no fine
    // members). The scaladoc's totality argument says vectors still never
    // vanish — any probe list containing the empty cell contains its
    // non-empty duplicate earlier, so the step-4 inner join always has a
    // candidate, even at nprobe=1. Pin it on the worst case.
    import spark.implicits._
    val dup = Seq.fill(3)(Seq(1.0f, 0.0f)) // cells 0,1,2 identical -> 1,2 empty
    val distinct = Seq(Seq(0.0f, 1.0f), Seq(-1.0f, 0.0f), Seq(0.0f, -1.0f))
    val cents = (dup ++ distinct).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cell", "centroid")
    val emb = (0 until 40)
      .map(i => (i.toLong, Seq(math.cos(i * 0.31).toFloat, math.sin(i * 0.31).toFloat)))
      .toDF("vec_id", "embedding")
    for (nprobe <- Seq(1, 2, 6)) {
      val assigned = Vectors.assignCellsHierarchical(emb, cents, coarseK = 6, nprobe = nprobe)
        .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(assigned.length == 40,
        s"nprobe=$nprobe dropped vectors: ${assigned.length}/40 (inner join hit an empty coarse cell)")
      assert(assigned.map(_._1).toSet.size == 40, "duplicate vec_id in assignment")
    }
    // and the duplicate seeds all collapse onto the smallest ccell: no
    // vector may land in a losing duplicate's (empty) cell
    val cells = Vectors.assignCellsHierarchical(emb, cents, coarseK = 6, nprobe = 6)
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(!cells.contains(1L) && !cells.contains(2L),
      s"losing duplicate seeds must keep no members, got cells=$cells")
    graft.operators.Materialize.releaseAll()
  }

  test("lsh near-dup pairs: persisted-postings path equals the inline path") {
    // The q63 gate probes ensurePairPostings; the artifact must be a pure
    // re-expression of the inline pipeline — row-identical output,
    // including collision counts and exact sims.
    val inline = Vectors.lshNearDupPairs(spark, sf0001).collect().map(_.toSeq).toSeq
    val indexed = Vectors.lshNearDupPairsIndexed(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("lsh near-dup pairs: collision filter prunes most candidate pairs") {
    val n = Tables.embeddings(spark, sf0001).count()
    val allPairs = n * (n - 1) / 2
    val kept = Vectors.lshNearDupPairs(spark, sf0001, k = Int.MaxValue).count()
    assert(kept < allPairs / 2,
      s"collision threshold kept $kept of $allPairs pairs — not selective")
  }

  test("ivf index lifecycle: append equals rebuild, delete removes, upsert replaces") {
    val emb = Tables.embeddings(spark, sf0001)
    // One FIXED quantizer for both layouts: append assigns with the stored
    // centroids, so the rebuild twin must use the same geometry.
    val cents = Vectors.quantizer(spark, emb.filter(col("vec_id") < 400), cells = 16)
    val incr = java.nio.file.Files.createTempDirectory("graft-ivf-incr").toString
    Vectors.buildIvfIndexWith(spark, emb.filter(col("vec_id") < 400), cents, incr)
    Vectors.appendIvfIndex(spark, incr, emb.filter(col("vec_id") >= 400))
    val full = java.nio.file.Files.createTempDirectory("graft-ivf-full").toString
    Vectors.buildIvfIndexWith(spark, emb, cents, full)
    def cells(dir: String) = Vectors.liveCells(spark, dir)
      .select("vec_id", "cell", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet
    assert(cells(incr) == cells(full),
      "appended IVF index must hold the same live rows as a rebuild")
    // Any search over identical live rows is identical; now mutate:
    Vectors.deleteFromIvfIndex(spark, incr, Seq(42L))
    assert(!cells(incr).exists(_._1 == 42L), "deleted id still live")
    // Upsert: re-ingesting an id with new content leaves ONE live version,
    // assigned to the new embedding's cell.
    val changed = emb.filter(col("vec_id") === 7L)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Vectors.appendIvfIndex(spark, incr, changed)
    val v7 = cells(incr).filter(_._1 == 7L)
    assert(v7.size == 1, s"expected one live version of id 7, got ${v7.size}")
    val wantCell = cents.nearestArray(changed.collect()(0).getSeq[Float](1).toArray, 1)(0)
    assert(v7.head._2 == wantCell, "upserted row not assigned by the new embedding")
    // and the delete from before still holds after the append's tombstone pass
    assert(!cells(incr).exists(_._1 == 42L), "append resurrected an unrelated delete")

    // Vacuum: live view unchanged, but physically — tombstoned / superseded
    // rows gone from the raw cell table and the marker dirs retired.
    val liveBefore = cells(incr)
    Vectors.vacuumIvfIndex(spark, incr)
    assert(cells(incr) == liveBefore, "vacuum changed the live row set")
    assert(!new java.io.File(s"$incr/tombstones").exists)
    assert(!new java.io.File(s"$incr/superseded").exists)
    val raw = spark.read.parquet(s"$incr/cells")
    assert(raw.count() == liveBefore.size, "dead rows survived the vacuum")
    // appends still work afterwards (batch markers kept → fresh generation)
    Vectors.appendIvfIndex(spark, incr, Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") === 42L))
    assert(cells(incr).exists(_._1 == 42L), "post-vacuum append not served")
  }

  /** Driver-side replica of the CosineSim codegen loop (same index order,
    * same float→double widening) so >=-threshold comparisons match bitwise.
    */
  private def cosF(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("semantic increment equals same-centroid cross-split brute force and bites") {
    val TH = 0.35
    val got = Vectors.semanticIncrement(spark, sf0001, threshold = TH).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth under the SAME centroid model: assign every vector with
    // the store's persisted centroids (the identical codegen expression),
    // then brute-force cross-split same-cell cosine pairs driver-side.
    val store = Vectors.ensureCellStore(spark, sf0001)
    val cents = Vectors.loadCentroids(spark, s"$store/_centroids")
    val assigned =
      Vectors.assignCellsWith(Tables.embeddings(spark, sf0001), cents)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    val batch = assigned.filter(_._1 % 7 == 0)
    val corp = assigned.filter(_._1 % 7 != 0)
    val expected = (for {
      (bi, bv, bc) <- batch
      (ci, cv, cc) <- corp
      if bc == cc && cosF(bv, cv) >= TH
    } yield (bi, ci)).toSet
    assert(expected.nonEmpty, "no cross-split same-cell pairs at the fixture — vacuous")
    assert(got == expected,
      s"increment diverged from same-centroid brute force: ${got.size} vs " +
        s"${expected.size}; missing=${(expected -- got).take(5)} " +
        s"extra=${(got -- expected).take(5)}")
  }

  test("cell store: planted copy flagged; append uses store centroids; compaction keeps identity") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-cstore").toString + "/s"
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)
    Vectors.buildCellStore(spark, dir = dir, emb = corpus)
    // an exact copy of stored vector 1 arriving under a new id must be
    // flagged in the production 0.95 regime (cosine 1.0, same cell by the
    // same assignment expression)
    val batch = emb.filter(col("vec_id") === 1)
      .select(lit(900001L).as("vec_id"), col("embedding"), col("label"))
    val hits = Vectors.semanticIncrementAgainstStore(spark, batch, dir, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((900001L, 1L)), s"planted copy not flagged: $hits")
    // append assigns with the STORE's centroids, never a fresh fit: the
    // appended store must equal assignCellsWith(corpus ∪ batch) under the
    // store model
    val cents = Vectors.loadCentroids(spark, s"$dir/_centroids")
    Vectors.appendToCellStore(spark, dir, batch)
    def rows() = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Number]("svec_id").longValue,
        r.getAs[Number]("scell").longValue)).toSet
    val expAll = Vectors.assignCellsWith(corpus.unionByName(batch), cents)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows() == expAll, "append rows diverge from store-centroid assignment")
    // a replayed append duplicates rows; the probe is insensitive and
    // compaction retires the debt while keeping the store's identity
    Vectors.appendToCellStore(spark, dir, batch)
    assert(spark.read.parquet(dir).count() > expAll.size)
    val before = Vectors.semanticIncrementAgainstStore(spark, batch, dir, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    Vectors.compactCellStore(spark, dir)
    val after = Vectors.semanticIncrementAgainstStore(spark, batch, dir, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(after == before, "compaction changed probe results")
    assert(spark.read.parquet(dir).count() == expAll.size,
      "compaction left duplicate rows")
    Vectors.appendToCellStore(spark, dir, batch.limit(0)) // identity survived
    // a never-built path refuses, like the digest/band twins
    val e = intercept[IllegalArgumentException] {
      Vectors.appendToCellStore(spark, dir + "-nope", batch)
    }
    assert(e.getMessage.contains("build it first"), e.getMessage)
  }

  test("filtered knn: every neighbor wears an allowed label; exact over the filtered set") {
    val labels = Set(1, 2, 3)
    val got = KnnExact.topKFiltered(spark, sf0001).collect()
    assert(got.nonEmpty)
    val labelOf = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach(r => assert(labels.contains(labelOf(r.getLong(1)))))
    // brute-force cross-check for one query: the rank-1 neighbor is the
    // true filtered minimum, not a post-filtered survivor of the
    // unfiltered list
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble; d * d }.sum)
    val q0 = got.filter(_.getLong(0) == 0L).minBy(_.getInt(2))
    val want = vecs.keys
      .filter(id => id != 0L && labels.contains(labelOf(id)))
      .minBy(id => (l2(vecs(0L), vecs(id)), id))
    assert(q0.getLong(1) == want)
  }

  test("range search: complete and sound vs a driver brute force") {
    val radius = 1.2
    val got = KnnExact.rangeSearch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble; d * d }.sum)
    val want = (for {
      q <- 0L until 8L
      n <- vecs.keys if n != q && l2(vecs(q), vecs(n)) <= radius
    } yield (q, n)).toSet
    assert(got == want)
    assert(got.nonEmpty, "radius 1.2 should match some pairs on the fixture")
  }

  test("semantic decontamination: planted exact and near copies detected, zeros included") {
    import spark.implicits._
    val e1 = Array(1f, 0f, 0f)
    val near = Array(0.999f, 0.0447f, 0f) // cos ~0.999 vs e1
    val e2 = Array(0f, 1f, 0f)
    val evalVecs = Seq((3L, e1), (22L, e2)).toDF("eval_id", "ev")
    val trainVecs = Seq(e1, near, Array(0f, 0f, 1f)).toDF("tv")
    val got = Vectors.semanticDecontaminationOf(evalVecs, trainVecs, 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // eval 3 leaks twice (exact + paraphrase-near); eval 2 reports ZERO —
    // the row must still be present (the q189 zeros discipline)
    assert(got == Seq((3L, 2L), (22L, 0L)), got.mkString(","))
    // the unit-norm premise that makes dot ≡ cosine on the fixture
    import org.apache.spark.sql.functions._
    val norms = Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.graft.VectorExpressions
        .dot(col("embedding"), col("embedding")).as("n2"))
      .agg(min(col("n2")), max(col("n2"))).collect().head
    assert(math.abs(norms.getDouble(0) - 1.0) < 1e-5 &&
      math.abs(norms.getDouble(1) - 1.0) < 1e-5,
      s"fixture embeddings not unit-norm: $norms")
  }
}

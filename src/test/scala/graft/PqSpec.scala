package graft

import org.apache.spark.sql.functions._

import graft.operators.{KnnExact, Pq}

class PqSpec extends SparkSpec {

  test("pq fit is deterministic and codebooks differ across subspaces") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = Pq.PQ().fit(emb)
    val b = Pq.PQ().fit(emb)
    assert(a.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      b.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(a.codebooks(0).map(_.toSeq).toSeq != a.codebooks(1).map(_.toSeq).toSeq)
  }

  test("pq encode: M bytes per vector — 32x smaller than the float vector") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pq.PQ().fit(emb)
    val row = Pq.PQ().encode(emb, model).limit(1).collect()(0)
    val codes = row.getAs[Array[Byte]]("codes")
    assert(codes.length == 8)
    assert(8 * 32 == 64 * 4, "8 code bytes stand in for 256 float bytes")
  }

  test("pq adc distance approximates true distance (rank correlation on a sample)") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pq.PQ().fit(emb)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(50).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = rows(0)._2
    val lut = model.lut(q)
    val scored = rows.drop(1).map { case (id, v) =>
      val approx = model.adc(lut, model.encode(v))
      val exact = math.sqrt(v.zip(q).map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d
      }.sum)
      (id, approx, exact)
    }
    // ADC must order vectors roughly like true distance: the 10 best by ADC
    // should overlap the 10 best by exact distance.
    val byApprox = scored.sortBy(_._2).take(10).map(_._1).toSet
    val byExact = scored.sortBy(_._3).take(10).map(_._1).toSet
    assert((byApprox & byExact).size >= 5,
      s"ADC ordering too far from exact: overlap ${(byApprox & byExact).size}/10")
  }

  test("indexed pq ann equals the inline path (same deterministic fit)") {
    val inline = Pq.ann(spark, Pq.PQ(), sf0001).collect().map(_.toSeq).toSeq
    val indexed = Pq.annIndexed(spark, Pq.PQ(), sf0001).collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("pq model round-trips through the persisted index layout") {
    val emb = Tables.embeddings(spark, sf0001)
    val want = Pq.PQ().fit(emb)
    val dir = Pq.ensure(spark, Pq.PQ(), sf0001)
    val got = Pq.PQ().loadModel(spark, s"$dir/model")
    assert(got.m == want.m && got.k == want.k && got.subdim == want.subdim)
    assert(got.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      want.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("ivf-pq at full probe equals the flat pq scan; pruned probe keeps recall") {
    val flat = Pq.ann(spark, Pq.PQ(), sf0001).collect().map(_.toSeq).toSeq
    val fullProbe = Pq.annIvfPq(spark, sf0001, nprobe = 16).collect().map(_.toSeq).toSeq
    assert(fullProbe == flat,
      "probing every cell must reproduce the flat ADC scan exactly")
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Pq.annIvfPq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pruned).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf-pq recall=$recall (nprobe=4/16 on random vectors)")
  }

  test("phase-1 task scores match the driver-side adc kernel bit-for-bit") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pq.PQ().fit(emb)
    val q = emb.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(1).collect()(0)
    val (qid, qv) = (q.getLong(0), q.getSeq[Float](1).toArray)
    val lut = model.lut(qv)
    // every live code kept: the scores the tasks rank the index by
    val scored = Pq.indexCandidates(spark, Pq.PQ(), Pq.ensure(spark, Pq.PQ(), sf0001),
      Seq(qid -> qv), k1 = Int.MaxValue)(qid)
    val codes = Pq.PQ().encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(scored.map(_._2).sorted == codes.keys.filter(_ != qid).toSeq.sorted,
      "phase 1 must score every code but the query's own")
    scored.foreach { case (dist, id) =>
      assert(dist == model.adc(lut, codes(id)), s"vec $id diverges")
    }
  }

  test("pq ann: recall@10 vs exact knn, never self, deterministic") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Pq.ann(spark, Pq.PQ(), sf0001).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    val recall = (exact & gotPairs).size.toDouble / exact.size
    // k1=100 of 500 corpus vectors re-ranked exactly; random 64-d vectors
    // are the hard case for 8x16 codebooks — measured recall ≈0.9.
    assert(recall >= 0.7, s"pq recall=$recall over ${exact.size} exact pairs")
    val again = Pq.ann(spark, Pq.PQ(), sf0001).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pq index lifecycle: append equals rebuild, delete removes, upsert replaces") {
    val emb = Tables.embeddings(spark, sf0001)
    // One FIXED codebook set for both layouts (append encodes with the
    // stored model, so the rebuild twin must quantize identically).
    val model = Pq.PQ().fit(emb.filter(col("vec_id") < 400))
    val incr = java.nio.file.Files.createTempDirectory("graft-pq-incr").toString
    Pq.build(spark, Pq.PQ(), emb.filter(col("vec_id") < 400), model, incr)
    Pq.append(spark, Pq.PQ(), incr, emb.filter(col("vec_id") >= 400))
    val full = java.nio.file.Files.createTempDirectory("graft-pq-full").toString
    Pq.build(spark, Pq.PQ(), emb, model, full)
    def codes(dir: String) = Pq.liveCodes(spark, dir)
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(codes(incr) == codes(full),
      "appended PQ index must hold the same live codes as a rebuild")
    Pq.delete(spark, incr, Seq(42L))
    assert(!codes(incr).exists(_._1 == 42L), "deleted id still live")
    val changed = emb.filter(col("vec_id") === 7L)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Pq.append(spark, Pq.PQ(), incr, changed)
    val v7 = codes(incr).filter(_._1 == 7L)
    assert(v7.size == 1, s"expected one live version of id 7, got ${v7.size}")
    val wantCodes = model.encode(changed.collect()(0).getSeq[Float](1).toArray).toSeq
    assert(v7.head._2 == wantCodes, "upserted row not encoded from the new embedding")
    assert(!codes(incr).exists(_._1 == 42L), "append resurrected an unrelated delete")

    // Vacuum: identical live codes, dead rows physically gone, markers
    // retired, and the flat code table is back to a plain-scan read.
    val liveBefore = codes(incr)
    Pq.vacuum(spark, incr)
    assert(codes(incr) == liveBefore, "vacuum changed the live code set")
    assert(!new java.io.File(s"$incr/tombstones").exists)
    assert(!new java.io.File(s"$incr/superseded").exists)
    assert(spark.read.parquet(s"$incr/codes").count() == liveBefore.size,
      "dead code rows survived the vacuum")
  }

  test("sq8: one byte per dim; decode error bounded by half a grid step") {
    val emb = Tables.embeddings(spark, sf0001)
    val sq = Pq.SQ8.fit(emb)
    assert(sq.dim == 64)
    val codes = Pq.SQ8.encode(emb, sq).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).limit(50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    vecs.foreach { case (id, v) =>
      val c = codes(id)
      assert(c.length == sq.dim, "one code byte per dimension (4x compression)")
      v.indices.foreach { i =>
        // Corpus values lie inside [min, max] by construction, so rint can
        // miss by at most half a step (+ a float ULP from the stored decode).
        val decoded = (sq.mins(i) + (c(i) & 0xff) * sq.scales(i)).toFloat
        val tol = sq.scales(i) / 2 * 1.001 + 1e-6
        assert(math.abs(decoded - v(i)) <= tol,
          s"vec $id dim $i: |$decoded - ${v(i)}| > $tol")
      }
    }
  }

  test("sq8 ann: full-rank scan equals exact knn; default k1 near-exact recall") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // k1 = corpus size ⇒ the exact re-rank sees every vector: the pair set
    // must equal brute force regardless of quantization error.
    val fullRank = Pq.ann(spark, Pq.SQ8, sf0001, k1 = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullRank == exact, "full-rank SQ8 must reduce to exact knn")
    val got = Pq.ann(spark, Pq.SQ8, sf0001).collect()
    assert(got.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    // 256 levels/dim ⇒ quantization error ≪ inter-point distances: SQ8 at
    // k1=100 should be near-exact (measured 1.0 on the fixtures), far above
    // PQ's 0.7 bound — that fidelity gap is the reason the rung exists.
    assert(recall >= 0.9, s"sq8 recall=$recall over ${exact.size} exact pairs")
    val again = Pq.ann(spark, Pq.SQ8, sf0001).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "nondeterministic")
  }

  test("indexed sq8 ann equals the inline path (same deterministic fit)") {
    val inline = Pq.ann(spark, Pq.SQ8, sf0001).collect().map(_.toSeq).toSeq
    val indexed = Pq.annIndexed(spark, Pq.SQ8, sf0001).collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("sq8 index lifecycle: append equals rebuild, delete removes, upsert replaces") {
    val emb = Tables.embeddings(spark, sf0001)
    // One FIXED grid for both layouts (append quantizes with the stored
    // model, so the rebuild twin must encode identically).
    val model = Pq.SQ8.fit(emb.filter(col("vec_id") < 400))
    val incr = java.nio.file.Files.createTempDirectory("graft-sq-incr").toString
    Pq.build(spark, Pq.SQ8, emb.filter(col("vec_id") < 400), model, incr)
    Pq.append(spark, Pq.SQ8, incr, emb.filter(col("vec_id") >= 400))
    val full = java.nio.file.Files.createTempDirectory("graft-sq-full").toString
    Pq.build(spark, Pq.SQ8, emb, model, full)
    def codes(dir: String) = Pq.liveCodes(spark, dir)
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(codes(incr) == codes(full),
      "appended SQ8 index must hold the same live codes as a rebuild")
    Pq.delete(spark, incr, Seq(42L))
    assert(!codes(incr).exists(_._1 == 42L), "deleted id still live")
    val changed = emb.filter(col("vec_id") === 7L)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Pq.append(spark, Pq.SQ8, incr, changed)
    val v7 = codes(incr).filter(_._1 == 7L)
    assert(v7.size == 1, s"expected one live version of id 7, got ${v7.size}")
    Pq.vacuum(spark, incr)
    assert(!codes(incr).exists(_._1 == 42L), "vacuum resurrected a delete")
    assert(spark.read.parquet(s"$incr/codes").count() == codes(incr).size,
      "dead code rows survived the vacuum")
  }

  test("bq: one long per vector; fit is partition-independent scaled-long means") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pq.BQ.fit(emb)
    assert(model.dim == 64)
    val again = Pq.BQ.fit(emb.repartition(7))
    assert(model.thr6.toSeq == again.thr6.toSeq,
      "thresholds must be bitwise partition-independent")
    // codegen encode ≡ driver encode for every vector
    val codes = Pq.BQ.encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    emb.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      assert(codes(r.getLong(0)) == model.encodeSeq(r.getSeq[Float](1)),
        s"vec ${r.getLong(0)}: codegen and driver encode disagree")
    }
    // mean-centering balances bits: no bit position is constant corpus-wide
    (0 until 64).foreach { i =>
      val ones = codes.values.count(c => (c >> i & 1L) == 1L)
      assert(ones > 0 && ones < codes.size, s"bit $i is degenerate")
    }
  }

  test("bq ann: full-rank scan equals exact knn; default k1 recall floor") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // k1 = corpus size ⇒ the exact re-rank sees every vector: the pair set
    // must equal brute force regardless of how lossy the sign bits are.
    val fullRank = Pq.ann(spark, Pq.BQ, sf0001, k1 = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullRank == exact, "full-rank BQ must reduce to exact knn")
    val got = Pq.ann(spark, Pq.BQ, sf0001).collect()
    assert(got.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    // One sign bit per dimension is the lossiest rung on the ladder: 64-bit
    // Hamming at k1=100-of-500 candidates. Measured 0.875 on the fixtures
    // (RecallSweep: 0.663/0.875/0.975 at k1=50/100/200) — floor at the
    // repo-standard 0.7 bound, well above chance (k1/N = 0.2).
    assert(recall >= 0.7, s"bq recall=$recall over ${exact.size} exact pairs")
    val again = Pq.ann(spark, Pq.BQ, sf0001).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "nondeterministic")
  }

  test("indexed bq ann equals the inline path (same deterministic fit)") {
    val inline = Pq.ann(spark, Pq.BQ, sf0001).collect().map(_.toSeq).toSeq
    val indexed = Pq.annIndexed(spark, Pq.BQ, sf0001).collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("bq index lifecycle: append equals rebuild, delete removes, upsert replaces") {
    val emb = Tables.embeddings(spark, sf0001)
    // One FIXED threshold set for both layouts (append encodes with the
    // stored model, so the rebuild twin must encode identically).
    val model = Pq.BQ.fit(emb.filter(col("vec_id") < 400))
    val incr = java.nio.file.Files.createTempDirectory("graft-bq-incr").toString
    Pq.build(spark, Pq.BQ, emb.filter(col("vec_id") < 400), model, incr)
    Pq.append(spark, Pq.BQ, incr, emb.filter(col("vec_id") >= 400))
    val full = java.nio.file.Files.createTempDirectory("graft-bq-full").toString
    Pq.build(spark, Pq.BQ, emb, model, full)
    def codes(dir: String) = Pq.liveCodes(spark, dir)
      .select("vec_id", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(codes(incr) == codes(full),
      "appended BQ index must hold the same live codes as a rebuild")
    Pq.delete(spark, incr, Seq(42L))
    assert(!codes(incr).exists(_._1 == 42L), "deleted id still live")
    val changed = emb.filter(col("vec_id") === 7L)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Pq.append(spark, Pq.BQ, incr, changed)
    val v7 = codes(incr).filter(_._1 == 7L)
    assert(v7.size == 1, s"expected one live version of id 7, got ${v7.size}")
    Pq.vacuum(spark, incr)
    assert(!codes(incr).exists(_._1 == 42L), "vacuum resurrected a delete")
    assert(spark.read.parquet(s"$incr/codes").count() == codes(incr).size,
      "dead code rows survived the vacuum")
  }

  test("ivfpq index lifecycle: append equals rebuild under fixed models") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = graft.operators.Vectors.quantizer(
      spark, emb.filter(col("vec_id") < 400), cells = 16)
    val model = Pq.PQ().fit(emb.filter(col("vec_id") < 400))
    val incr = java.nio.file.Files.createTempDirectory("graft-ivfpq-incr").toString
    Pq.buildIvfPqIndexWith(spark, emb.filter(col("vec_id") < 400), cents, model, incr)
    Pq.appendIvfPqIndex(spark, incr, emb.filter(col("vec_id") >= 400))
    val full = java.nio.file.Files.createTempDirectory("graft-ivfpq-full").toString
    Pq.buildIvfPqIndexWith(spark, emb, cents, model, full)
    def rows(dir: String) = Pq.liveCellCodes(spark, dir)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(rows(incr) == rows(full),
      "appended IVF-PQ index must hold the same live rows as a rebuild")
  }
}

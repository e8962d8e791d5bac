package graft

import org.apache.spark.sql.functions._

import graft.operators.{Index, Knn, KnnExact, Lsh}

class LshSpec extends SparkSpec {

  test("fit is deterministic: same data, same model") {
    val emb = Tables.embeddings(spark, sf0001)
    val m1 = Lsh.fit(emb, tables = 4, bits = 6)
    val m2 = Lsh.fit(emb, tables = 4, bits = 6)
    assert(m1.midpoints.map(_.toSeq).toSeq == m2.midpoints.map(_.toSeq).toSeq)
    assert(m1.normals.map(_.toSeq).toSeq == m2.normals.map(_.toSeq).toSeq)
  }

  test("hashVector is deterministic and in-range") {
    val emb = Tables.embeddings(spark, sf0001)
    val m = Lsh.fit(emb, tables = 4, bits = 6)
    val v = emb.orderBy("vec_id").limit(1)
      .collect()(0).getSeq[Float](1).toArray
    val h1 = m.hashVector(v)
    val h2 = m.hashVector(v)
    assert(h1.toSeq == h2.toSeq)
    assert(h1.length == 4)
    assert(h1.forall(h => h >= 0 && h < (1L << 6)))
  }

  test("hashQuery golden: stable across runs (seeded fit)") {
    val r1 = Lsh.hashQuery(spark, sf0001, tables = 4, bits = 6).collect()
    val r2 = Lsh.hashQuery(spark, sf0001, tables = 4, bits = 6).collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.length == 500 * 4) // every vector hashed in every table
  }

  test("hash golden file: matches checked-in hashes (cross-build regression)") {
    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/golden/lsh_hashes_sf0001_t4b6.csv")
    val got = Lsh.hashQuery(spark, sf0001, tables = 4, bits = 6).collect()
      .map(r => s"${r.getLong(0)},${r.getInt(1)},${r.getLong(2)}")
    if (!java.nio.file.Files.exists(goldenPath)) {
      // A missing golden is a FAILURE unless regeneration was explicitly
      // requested — silently regenerating would erase the cross-build
      // regression coverage the file exists for.
      assert(sys.env.contains("REGEN_GOLDEN"),
        s"golden file $goldenPath missing; run with REGEN_GOLDEN=1 to regenerate")
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.write(goldenPath,
        got.mkString("\n").getBytes("UTF-8"))
      info(s"golden file generated at $goldenPath — commit it")
    } else {
      val expected = new String(
        java.nio.file.Files.readAllBytes(goldenPath), "UTF-8").split("\n")
      assert(got.length == expected.length)
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"line $i: got $g expected $e")
      }
    }
  }

  test("locality: near pairs collide in more tables than far pairs") {
    val emb = Tables.embeddings(spark, sf0001)
    val m = Lsh.fit(emb)
    val rows = emb.orderBy("vec_id").limit(200).collect()
      .map(r => r.getSeq[Float](1).toArray)
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.indices.map(i => math.pow(a(i) - b(i), 2)).sum)
    def coll(a: Array[Float], b: Array[Float]): Int =
      m.hashVector(a).zip(m.hashVector(b)).count { case (x, y) => x == y }
    val pairs = for (i <- 0 until 100; j = i + 100) yield {
      (l2(rows(i), rows(j)), coll(rows(i), rows(j)))
    }
    val sorted = pairs.sortBy(_._1)
    val nearAvg = sorted.take(30).map(_._2).sum / 30.0
    val farAvg = sorted.takeRight(30).map(_._2).sum / 30.0
    assert(nearAvg >= farAvg,
      s"near pairs should collide at least as often (near=$nearAvg far=$farAvg)")
  }

  test("two-phase LSH recall@10 >= 0.7 vs exact kNN (k1=100)") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Knn.lshTopK(spark, sf0001, queryMaxId = 8, k1 = 100, k2 = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    // measured 0.713 (r9, RecallFloors) — 0.7 is already measured-minus-margin
    assert(recall >= 0.7, s"recall@10 = $recall")
  }

  test("filtered indexed search: label-sound, and recall >= 0.7 vs exact filtered") {
    val labels = Set(1, 2, 3)
    val got = Knn.lshTopKFilteredIndexed(spark, sf0001, queryMaxId = 8).collect()
    assert(got.nonEmpty)
    // soundness: every served neighbor wears an allowed label
    val labelOf = Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach(r => assert(labels.contains(labelOf(r.getLong(1))),
      s"neighbor ${r.getLong(1)} has label ${labelOf(r.getLong(1))}"))
    // recall vs the exact filtered baseline (the filter keeps ~30% of the
    // corpus, so k1=100 of ~150 eligible docs covers it well)
    val exact = KnnExact.topKFiltered(spark, sf0001, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    // measured 0.988 (r9, RecallFloors); floor = measured − 0.1 so a silent
    // regression to ~0.8 FAILS instead of hiding under the old 0.7 floor
    assert(recall >= 0.88, s"filtered recall@10 = $recall")
  }

  test("multiprobe lifts recall at identical index size") {
    val exact = KnnExact.topK(spark, sf0001, queryMaxId = 8, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(multiprobe: Boolean): Double = {
      val got = Knn.lshTopK(spark, sf0001, queryMaxId = 8, k1 = 100, k2 = 10,
          multiprobe = multiprobe)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val base = recall(multiprobe = false)
    val multi = recall(multiprobe = true)
    info(f"recall base=$base%.3f multiprobe=$multi%.3f")
    assert(multi >= base, s"multiprobe must not lose recall (base=$base multi=$multi)")
    // measured 0.750 (r9, RecallFloors) — the floor sits AT the measured value
    assert(multi >= 0.75, s"multiprobe recall=$multi")
  }

  test("derived bits keep expected bucket size bounded across corpus scales") {
    // Gate fixtures resolve to the calibrated width (rows unchanged): the
    // clamp floor at 500 vectors, the exact log at 2000.
    assert(Lsh.deriveBits(500) == 3)   // sf0.001 / sf0.01
    assert(Lsh.deriveBits(2000) == 3)  // sf0.1 — E[bucket] = 250, as tuned
    // Growth: ~log2(N / 250), monotone, clamped to [3, 16].
    assert(Lsh.deriveBits(200000) == 10)
    assert(Lsh.deriveBits(20000000) == 17.min(16))
    assert(Lsh.deriveBits(1L << 40) == 16)
    assert(Lsh.deriveBits(1) == 3)
    // The scale invariant VERDICT r3 flagged as missing: between the clamp
    // regions, E[bucket size] = N / 2^bits never exceeds the target (ceil
    // rounds bits UP, so buckets land at or below 250) — bucket-local pair
    // work stays bounded instead of growing quadratically with the corpus.
    var n = 2000L
    while (n <= (250L << 16)) {
      val e = n.toDouble / (1L << Lsh.deriveBits(n))
      assert(e <= 250.0, s"E[bucket]=$e at N=$n")
      n = (n * 3) / 2
    }
    // And the built gate index actually carries the derived width.
    val dir = Index.ensure(spark, sf0001)
    val (model, _) = Lsh.loadModel(spark, s"$dir/model")
    assert(model.bits == 3)
  }

  test("index round-trip: model + vectors + postings survive persistence") {
    val emb = Tables.embeddings(spark, sf0001)
    val m = Lsh.fit(emb, tables = 4, bits = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-index").toString
    Index.build(spark, emb, m, dir, numBuckets = 16)
    val (m2, nb) = Lsh.loadModel(spark, s"$dir/model")
    assert(nb == 16)
    assert(m2.midpoints.map(_.toSeq).toSeq == m.midpoints.map(_.toSeq).toSeq)
    assert(m2.normals.map(_.toSeq).toSeq == m.normals.map(_.toSeq).toSeq)
    val vecs = Index.vectors(spark, dir)
    assert(vecs.count() == emb.count())
    assert(vecs.columns.contains("hashes"))
    val posts = Index.postings(spark, dir)
    assert(Index.postingRows(posts).count() == emb.count() * 4) // one posting per (vector, table)
    assert(posts.columns.toSeq == Seq("tbl", "hash", Index.BatchCol, "ids", Index.PKeyCol))
    // one list per (tbl, hash): at most 4 tables × 2^6 hashes
    assert(posts.count() == posts.select("tbl", "hash").distinct().count() && posts.count() <= 4 * 64)
    val one = Index.lookup(vecs, 7L).collect()
    assert(one.length == 1)
  }

  test("bucket cap bounds the collision join without changing small buckets") {
    val dir = graft.operators.Index.ensure(spark, sf0001)
    val uncapped = Knn.searchIndex(spark, dir, 8, 100, 10)
      .collect().map(_.toSeq).toSeq
    // A cap far above every bucket size is a no-op.
    val bigCap = Knn.searchIndex(spark, dir, 8, 100, 10, bucketCap = 100000)
      .collect().map(_.toSeq).toSeq
    assert(bigCap == uncapped)
    // A tight cap still serves every query with a full k2 result set.
    val tight = Knn.searchIndex(spark, dir, 8, 100, 10, bucketCap = 16)
    val perQuery = tight.groupBy("query_id").count().collect()
    assert(perQuery.length == 8 && perQuery.forall(_.getLong(1) == 10))
  }

  test("append then search equals full-rebuild search; compact is a no-op on results") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val full = java.nio.file.Files.createTempDirectory("graft-idx-full").toString
    Index.build(spark, emb, model, full, numBuckets = 16)
    val incr = java.nio.file.Files.createTempDirectory("graft-idx-incr").toString
    Index.build(spark, emb.filter(col("vec_id") < 400), model, incr, numBuckets = 16)
    Index.append(spark, incr, emb.filter(col("vec_id") >= 400 && col("vec_id") < 450))
    Index.append(spark, incr, emb.filter(col("vec_id") >= 450))

    val wantRows = Knn.searchIndex(spark, full, 8, 100, 10).collect().map(_.toSeq).toSeq
    val gotRows = Knn.searchIndex(spark, incr, 8, 100, 10).collect().map(_.toSeq).toSeq
    assert(gotRows == wantRows, "incremental index must serve identical results")
    assert(Index.vectors(spark, incr).count() == emb.count())

    // Compaction: strictly fewer posting files, an identical set of
    // (tbl, hash, batch, vec_id) postings, identical search results.
    def files(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/postings")).filter(_.getName.endsWith(".parquet"))
    }
    val before = files(incr).size
    def postings() = Index.postingRows(Index.postings(spark, incr))
      .select("tbl", "hash", Index.BatchCol, "vec_id").collect().map(_.toSeq).toSet
    val rowsBefore = postings()
    Index.compact(spark, incr)
    assert(files(incr).size < before,
      s"compact should shrink file count (before=$before after=${files(incr).size})")
    assert(postings() == rowsBefore)
    val gotCompacted = Knn.searchIndex(spark, incr, 8, 100, 10).collect().map(_.toSeq).toSeq
    assert(gotCompacted == wantRows)
  }

  test("compact recovers from a crash that left postings staged aside") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-crash").toString
    Index.build(spark, emb, model, dir, numBuckets = 8)
    val want = Knn.searchIndex(spark, dir, 4, 50, 5).collect().map(_.toSeq).toSeq
    // simulate a compact that died between the two renames: live staged
    // aside, replacement never promoted
    val live = new java.io.File(s"$dir/postings")
    val old = new java.io.File(s"$dir/postings_old")
    assert(live.renameTo(old))
    Index.compact(spark, dir)
    val got = Knn.searchIndex(spark, dir, 4, 50, 5).collect().map(_.toSeq).toSeq
    assert(got == want, "recovery + compact must preserve results")
    assert(!old.exists() && !new java.io.File(s"$dir/postings_compacting").exists())
  }

  test("delete tombstones a vector out of search without touching the index files") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-del").toString
    Index.build(spark, emb, model, dir, numBuckets = 16)
    val before = Knn.searchIndex(spark, dir, 4, 100, 10).collect()
    // pick a victim that is NOT itself a query vector (id >= queryMaxId=4),
    // else deleting it removes a whole query and the assertions misfire
    val victim = before.map(_.getLong(1)).find(_ >= 4).get
    Index.delete(spark, dir, Seq(victim))
    val after = Knn.searchIndex(spark, dir, 4, 100, 10).collect()
    assert(!after.exists(_.getLong(1) == victim), "deleted id still served")
    // every query still fills its k2 slots from the surviving candidates
    val perQuery = after.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 10))
    // per query: deletion only removes the victim and pulls in one new
    // tail candidate — survivors keep their exact relative order
    def byQuery(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val bq = byQuery(before)
    val aq = byQuery(after)
    bq.foreach { case (q, ids) =>
      if (ids.contains(victim))
        assert(aq(q).take(9) == ids.filterNot(_ == victim),
          s"query $q survivors reordered")
      else assert(aq(q) == ids, s"query $q changed without containing the victim")
    }
  }

  test("re-appending a deleted vector resurfaces it (delete-then-index semantics)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-readd").toString
    Index.build(spark, emb, model, dir, numBuckets = 16)
    val before = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    val victim = before.map(_(1).asInstanceOf[Long]).find(_ >= 4).get
    Index.delete(spark, dir, Seq(victim))
    assert(!Knn.searchIndex(spark, dir, 4, 100, 10).collect()
      .exists(_.getLong(1) == victim))
    // re-index the same id: the tombstone must clear and results return to
    // the original (the appended copy is identical, so dedup in the posting
    // list is not at issue — only the resurface semantics)
    Index.append(spark, dir, emb.filter(col("vec_id") === victim))
    val after = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    assert(after == before, "re-added vector should restore the original results")
  }

  test("append with a CHANGED embedding supersedes the old version (upsert)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-upsert").toString
    Index.build(spark, emb, model, dir, numBuckets = 16)
    // not a query vector (>= queryMaxId=4), so the query set is unaffected
    val victim = 42L
    val changed = emb.filter(col("vec_id") === victim)
      .withColumn("embedding",
        transform(col("embedding"), x => (-x).cast("float")))
    Index.append(spark, dir, changed)
    // GET-by-id serves exactly ONE live version — the new one
    val live = Index.lookup(Index.liveVectors(spark, dir), victim).collect()
    assert(live.length == 1, s"expected one live version, got ${live.length}")
    val want = changed.collect()(0).getSeq[Float](1)
    assert(live(0).getSeq[Float](1) == want, "live version is not the new embedding")
    // and search equals a fresh rebuild over the updated corpus — the old
    // version's postings and vector must contribute NOTHING
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-idx-upsert2").toString
    Index.build(spark,
      emb.filter(col("vec_id") =!= victim).unionByName(changed),
      model, rebuilt, numBuckets = 16)
    val got = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    val ref = Knn.searchIndex(spark, rebuilt, 4, 100, 10).collect().map(_.toSeq).toSeq
    assert(got == ref, "upserted index must match a rebuild with the new content")
  }

  test("replaying a mid-append crash supersedes the orphan postings") {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-crash").toString
    Index.build(spark, emb.filter(col("vec_id") < 400), model, dir, numBuckets = 16)
    // Simulate a crash BETWEEN the postings write and the vectors write:
    // batch b1's postings land, nothing else does.
    val fresh = emb.filter(col("vec_id") >= 400).filter(col("vec_id") < 450)
    val fs = graft.operators.Lifecycle.fsOf(spark, dir)
    val b1 = graft.operators.Lifecycle.allocateBatch(fs, dir)
    Index.postingLists(Index.withPKey(
      Lsh.explodeHashes(Lsh.withHashes(spark, fresh, model))
        .select(col("vec_id"), lit(b1).as(Index.BatchCol), col("tbl"), col("hash")),
      numBuckets = 16), col("tbl"), col("hash"), col(Index.BatchCol), col(Index.PKeyCol))
      .repartition(col(Index.PKeyCol))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy(Index.PKeyCol)
      .parquet(s"$dir/postings")
    // The integrity probe must DETECT the degraded state (orphan postings
    // winning candidate slots with no vectors row), attributed to batch b1 —
    // the only signal an operator gets when the crashed ids are never
    // replayed.
    val report = Index.integrityReport(spark, dir).collect()
    assert(report.length == 1 && report(0).getLong(0) == b1,
      s"orphans not attributed to batch $b1: ${report.toSeq}")
    assert(report(0).getLong(1) == 50, s"expected 50 orphan ids: ${report.toSeq}")
    assert(Index.integrityReport(spark, dir, batch = b1).collect().length == 1)
    // The retry (liveAppendSink's replay path) must heal: its generation
    // supersedes b1's orphan posting rows in every live view.
    Index.append(spark, dir, fresh)
    assert(Index.integrityReport(spark, dir).isEmpty,
      "probe must report healthy after the replay heals the orphans")
    val perKey = Index.livePostings(spark, dir)
      .filter(col("vec_id") >= 400)
      .groupBy(col("vec_id"), col("tbl")).count()
      .filter(col("count") > 1).count()
    assert(perKey == 0, s"$perKey (vec,tbl) posting keys still duplicated by orphans")
    val clean = java.nio.file.Files.createTempDirectory("graft-idx-crash2").toString
    Index.build(spark, emb.filter(col("vec_id") < 450), model, clean, numBuckets = 16)
    val got = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    val ref = Knn.searchIndex(spark, clean, 4, 100, 10).collect().map(_.toSeq).toSeq
    assert(got == ref, "healed index must match a clean rebuild")
  }

  test("vacuum purges dead rows, retires markers, and preserves search exactly") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-vac").toString
    Index.build(spark, emb, model, dir, numBuckets = 16)
    // lifecycle debt: one tombstoned id + one changed-content upsert
    val deleted = 42L
    val upserted = 43L
    Index.delete(spark, dir, Seq(deleted))
    val changed = emb.filter(col("vec_id") === upserted)
      .withColumn("embedding", transform(col("embedding"), x => (-x).cast("float")))
    Index.append(spark, dir, changed)
    val before = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    val liveCount = Index.liveVectors(spark, dir).count()

    Index.vacuum(spark, dir)

    // markers retired; raw tables hold exactly the live rows
    assert(!new java.io.File(s"$dir/tombstones").exists)
    assert(!new java.io.File(s"$dir/superseded").exists)
    assert(Index.vectors(spark, dir).count() == liveCount)
    val rawVecs = Index.vectors(spark, dir).collect()
    assert(!rawVecs.exists(_.getLong(0) == deleted), "tombstoned vector survived")
    assert(rawVecs.count(_.getLong(0) == upserted) == 1, "superseded version survived")
    assert(!Index.postingRows(Index.postings(spark, dir)).collect().exists(_.getLong(0) == deleted),
      "tombstoned postings survived")
    // search identical to the pre-vacuum live view
    val after = Knn.searchIndex(spark, dir, 4, 100, 10).collect().map(_.toSeq).toSeq
    assert(after == before, "vacuum changed search results")
    // post-vacuum append still works: fresh batch generation, id resurfaces
    Index.append(spark, dir, emb.filter(col("vec_id") === deleted))
    assert(Index.lookup(Index.liveVectors(spark, dir), deleted).count() == 1)
  }

  test("vacuum recovers from a crash that interrupted the part swaps") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-vac-crash").toString
    Index.build(spark, emb, model, dir, numBuckets = 8)
    Index.delete(spark, dir, Seq(42L))
    val want = Knn.searchIndex(spark, dir, 4, 50, 5).collect().map(_.toSeq).toSeq
    // Crash state A: vectors purged+promoted, postings staged aside and never
    // promoted, markers still present — the worst mixed state a crash between
    // part swaps can leave.
    val live = new java.io.File(s"$dir/postings")
    val old = new java.io.File(s"$dir/postings_old")
    assert(live.renameTo(old))
    Index.vacuum(spark, dir)
    assert(!old.exists() && !new java.io.File(s"$dir/postings_compacting").exists())
    assert(!new java.io.File(s"$dir/tombstones").exists)
    val got = Knn.searchIndex(spark, dir, 4, 50, 5).collect().map(_.toSeq).toSeq
    assert(got == want, "recovered vacuum must preserve the live results")
    assert(!Index.postingRows(Index.postings(spark, dir)).collect().exists(_.getLong(0) == 42L))
  }

  test("append recovers a tombstone swap that crashed between the renames") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-tscrash").toString
    Index.build(spark, emb, model, dir, numBuckets = 16)
    val base = Knn.searchIndex(spark, dir, 4, 100, 10).collect()
    val Seq(v1, v2) = base.map(_.getLong(1)).filter(_ >= 4).distinct.take(2).toSeq
    Index.delete(spark, dir, Seq(v1, v2))
    // Simulate an append of v1 that died between the two renames of its
    // tombstone swap (Lifecycle.promoteSwap): the complete new set {v2}
    // sits in tombstones_rewriting, the old set {v1, v2} was staged aside
    // as tombstones_old, and `tombstones` does not exist.
    Seq(v2).toDF("vec_id").write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/tombstones_rewriting")
    assert(new java.io.File(s"$dir/tombstones")
      .renameTo(new java.io.File(s"$dir/tombstones_old")))
    // Mid-crash readers read the old set where it was staged (never an
    // absent set as empty), and rename nothing: both ids stay deleted, v1
    // until the append is replayed.
    val midCrash = Knn.searchIndex(spark, dir, 4, 100, 10).collect()
    assert(!midCrash.exists(r => r.getLong(1) == v1 || r.getLong(1) == v2),
      "a deleted id served mid-crash")
    // the DataFrame view reads the same staged set through the same loader
    assert(Index.liveVectors(spark, dir).filter(col("vec_id").isin(v1, v2)).isEmpty,
      "a deleted id in the live view mid-crash")
    assert(new java.io.File(s"$dir/tombstones_old").exists())
    // Replaying the append rolls the old set forward, clears the staging,
    // then completes normally.
    Index.append(spark, dir, emb.filter(col("vec_id") === v1))
    assert(!new java.io.File(s"$dir/tombstones_old").exists())
    assert(!new java.io.File(s"$dir/tombstones_rewriting").exists())
    val after = Knn.searchIndex(spark, dir, 4, 100, 10).collect()
    assert(after.exists(_.getLong(1) == v1), "re-added v1 not served")
    assert(!after.exists(_.getLong(1) == v2), "v2 must stay deleted")
    // End state is exactly "fresh index minus v2": compare against a
    // reference where only v2 was ever deleted.
    val ref = java.nio.file.Files.createTempDirectory("graft-idx-tsref").toString
    Index.build(spark, emb, model, ref, numBuckets = 16)
    Index.delete(spark, ref, Seq(v2))
    val want = Knn.searchIndex(spark, ref, 4, 100, 10).collect().map(_.toSeq).toSeq
    assert(after.map(_.toSeq).toSeq == want)
  }

  test("posting lists: ids from three appends, a delete and a re-ingest serve a fresh build's rows") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-lists").toString
    Index.build(spark, emb.filter(col("vec_id") < 300), model, dir, numBuckets = 16)
    Seq((300, 400), (400, 450), (450, 500)).foreach { case (lo, hi) =>
      Index.append(spark, dir, emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    // a key whose lists hold ids of the build and of all three appends
    val rows = Index.postingRows(Index.postings(spark, dir))
    val key = rows.groupBy("tbl", "hash").agg(countDistinct(col(Index.BatchCol)).as("n"))
      .filter(col("n") === 4).orderBy("tbl", "hash").first()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("tbl") === key.getInt(0) && col("hash") === key.getLong(1))
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val batchOf = rows.filter(col("tbl") === key.getInt(0) && col("hash") === key.getLong(1))
      .select("vec_id", Index.BatchCol).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // not a query doc (< 8), so the query set is unchanged
    val deleted = batchOf.collect { case (id, 0L) if id >= 8 => id }.min
    val reingested = batchOf.collect { case (id, 2L) => id }.min
    Index.delete(spark, dir, Seq(deleted))
    Index.append(spark, dir, emb.filter(col("vec_id") === reingested))
    val fresh = java.nio.file.Files.createTempDirectory("graft-idx-lists-ref").toString
    Index.build(spark, emb.filter(col("vec_id") =!= deleted), model, fresh, numBuckets = 16)
    val want = ids(Index.postingRows(Index.postings(spark, fresh)))
    assert(!want.contains(deleted) && want.contains(reingested))
    // plain, capped (the cap binds on these 8 × 3-bit buckets) and multiprobe
    def answers(d: String) = Seq(
      Knn.searchIndex(spark, d, 8, 100, 10),
      Knn.searchIndex(spark, d, 8, 100, 10, bucketCap = 16),
      Knn.searchIndex(spark, d, 4, 100, 10, multiprobe = true)).map(_.collect().map(_.toSeq).toSeq)
    val ref = answers(fresh)
    assert(ids(Index.livePostings(spark, dir)) == want)
    assert(answers(dir) == ref, "lists under markers")
    Index.compact(spark, dir)
    assert(ids(Index.livePostings(spark, dir)) == want)
    assert(answers(dir) == ref, "compacted lists")
    Index.vacuum(spark, dir)
    assert(ids(Index.postingRows(Index.postings(spark, dir))) == want)
    assert(answers(dir) == ref, "vacuumed lists")
  }

  test("indexed search returns identical results to the inline path") {
    val inline = Knn.lshTopK(spark, sf0001, queryMaxId = 8, k1 = 100, k2 = 10)
      .collect().map(_.toSeq).toSeq
    val indexed = Knn.lshTopKIndexed(spark, sf0001, queryMaxId = 8, k1 = 100, k2 = 10)
      .collect().map(_.toSeq).toSeq
    assert(indexed == inline)
    val inlineMp = Knn.lshTopK(spark, sf0001, queryMaxId = 4, multiprobe = true)
      .collect().map(_.toSeq).toSeq
    val indexedMp = Knn.lshTopKIndexed(spark, sf0001, queryMaxId = 4, multiprobe = true)
      .collect().map(_.toSeq).toSeq
    assert(indexedMp == inlineMp)
  }

  test("1, derived and 64 postings directories serve identical rows; the model records the count") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 3)
    val dirs = Seq(1, 0, 64).map { n =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-idx-buckets-$n").toString
      Index.build(spark, emb, model, dir, numBuckets = n)
      n -> dir
    }.toMap
    val derived = Lsh.loadModel(spark, s"${dirs(0)}/model")._2
    assert(derived == Index.deriveBuckets(spark, emb.count(), model.tables, model.bits))
    assert(derived == operators.Skew.shufflePartitions(spark),
      "a fixture-sized corpus keeps the engine's one width")
    assert(Lsh.loadModel(spark, s"${dirs(1)}/model")._2 == 1)
    assert(Lsh.loadModel(spark, s"${dirs(64)}/model")._2 == 64)
    val q = emb.filter(col("vec_id") === 3L).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    def served(dir: String) = Seq(
      Knn.searchIndex(spark, dir, 8, 100, 10),
      Knn.searchIndex(spark, dir, 4, 100, 10, multiprobe = true),
      Knn.searchIndexByVector(spark, dir, q, 100, 10, excludeIds = Seq(3L)),
      Knn.searchIndexByVector(spark, dir, q, 100, 10, multiprobe = true))
      .map(_.collect().map(_.toSeq).toSeq)
    val want = served(dirs(0))
    assert(want.forall(_.nonEmpty))
    assert(served(dirs(1)) == want && served(dirs(64)) == want)
  }

  test("a wide explicit model keeps indexed = inline rows (exact probe key)") {
    // 2 tables × 40 bits: the (tbl, hash) probe key must stay exact far
    // beyond the derived widths (≤ 16 bits)
    val inline = Knn.lshTopK(spark, sf0001, queryMaxId = 8, tables = 2, bits = 40,
      multiprobe = true).collect().map(_.toSeq).toSeq
    val indexed = Knn.lshTopKIndexed(spark, sf0001, queryMaxId = 8, tables = 2, bits = 40,
      multiprobe = true).collect().map(_.toSeq).toSeq
    assert(indexed == inline)
  }

  test("a rebuild into the same dir searches and appends with the new model") {
    // The model memo is keyed by the lifecycle epoch, which a rebuild
    // bumps: after it, search hashes the queries and append hashes the new
    // vectors with the rebuilt model, never the one memoized before.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") === 3L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    def results(dir: String) = (
      Knn.searchIndex(spark, dir, 8, 100, 10).collect().map(_.toSeq).toSeq,
      Knn.searchIndexByVector(spark, dir, q, 100, 10).collect().map(_.toSeq).toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-rebuild").toString
    Index.build(spark, emb.filter(col("vec_id") < 400),
      Lsh.fit(emb, tables = 4, bits = 3), dir, numBuckets = 16)
    results(dir) // loads (and memoizes) the first model
    val second = Lsh.fit(emb, tables = 8, bits = 4)
    Index.build(spark, emb.filter(col("vec_id") < 400), second, dir, numBuckets = 16)
    Index.append(spark, dir, emb.filter(col("vec_id") >= 400))
    val fresh = java.nio.file.Files.createTempDirectory("graft-idx-fresh").toString
    Index.build(spark, emb, second, fresh, numBuckets = 16)
    assert(results(dir) == results(fresh),
      "the rebuilt dir must serve what a fresh build of the new model serves")
  }

  // ------------------------------------------- the coordinator's branches

  /** The indexed search recomputed by brute force from the layout's stored
    * hashes and vectors (live view, duplicate copies collapsed by vec_id):
    * per query, the collision count against every vector — a table
    * collides when the vector's hash equals the query's, and with
    * `bucketCap > 0` the vector is among its bucket's `bucketCap` smallest
    * ids — over the ids `allowed` keeps for that query; top-k1 by
    * (collisions desc, vec_id asc); exact L2; top-k2 by (dist, vec_id).
    * Rows: (query_id, neighbor_id, rank, collisions, dist4).
    */
  private def bruteForce(
      dir: String,
      queries: Map[Long, Array[Long]],
      queryVecs: Map[Long, Array[Float]],
      k1: Int,
      k2: Int,
      bucketCap: Int = 0,
      allowed: (Long, Long) => Boolean = _ != _): Seq[Seq[Any]] = {
    val stored = Index.liveVectors(spark, dir)
      .select(col("vec_id"), col("hashes"), col("embedding")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getSeq[Float](2).toArray))
      .toMap
    val kept: Set[(Int, Long, Long)] = stored.toSeq
      .flatMap { case (id, (hs, _)) => hs.zipWithIndex.map { case (h, t) => (t, h, id) } }
      .groupBy { case (t, h, _) => (t, h) }.values
      .flatMap(bucket => if (bucketCap > 0) bucket.sortBy(_._3).take(bucketCap) else bucket)
      .toSet
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.indices.map { i => val d = a(i).toDouble - b(i).toDouble; d * d }.sum)
    queries.toSeq.sortBy(_._1).flatMap { case (q, qh) =>
      val counted = stored.keys.toSeq.filter(allowed(q, _)).map(id =>
        id -> qh.indices.count(t => kept((t, qh(t), id)))).filter(_._2 > 0)
      counted.sortBy { case (id, c) => (-c, id) }.take(k1)
        .map { case (id, c) => (l2(queryVecs(q), stored(id)._2), id, c) }
        .sortBy { case (d, id, _) => (d, id) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k2).zipWithIndex
        .map { case ((d, id, c), i) =>
          Seq[Any](q, id, i + 1, c.toLong, math.floor(d * 1e4 + 0.5) / 1e4) }
    }
  }

  /** A small index whose buckets run long (8 tables × 3 bits over the
    * fixture), so the k1 cut and a bucket cap both bind.
    */
  private lazy val longBuckets = {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-brute").toString
    Index.build(spark, emb, Lsh.fit(emb, tables = 8, bits = 3), dir, numBuckets = 16)
    dir
  }

  private def storedQueries(dir: String, queryMaxId: Long) = {
    val rows = Index.liveVectors(spark, dir).filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), col("hashes"), col("embedding")).collect()
    (rows.map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap,
      rows.map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap)
  }

  test("coordinator: a bucket cap counts only each bucket's smallest ids") {
    val dir = longBuckets
    val (hashes, vecs) = storedQueries(dir, 8)
    val got = Knn.searchIndex(spark, dir, 8, 30, 5, bucketCap = 16).collect().map(_.toSeq).toSeq
    assert(got == bruteForce(dir, hashes, vecs, 30, 5, bucketCap = 16))
    // the cap binds: uncapped, the answer differs
    assert(got != bruteForce(dir, hashes, vecs, 30, 5))
  }

  test("coordinator: a q120-shaped candidate filter drops ids before the count") {
    val dir = longBuckets
    val (hashes, vecs) = storedQueries(dir, 8)
    val emb = Tables.embeddings(spark, sf0001)
    val meta = emb.select(col("vec_id"), col("label"))
      .filter(col("label").isin(1, 2, 3))
    val servable = meta.collect().map(_.getLong(0)).toSet
    val got = Knn.searchIndex(spark, dir, 8, 30, 5,
      candidateFilter = Some(meta.select(col("vec_id")))).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == bruteForce(dir, hashes, vecs, 30, 5,
      allowed = (q, id) => q != id && servable(id)))
  }

  test("coordinator: excluded ids never count for a raw-vector search") {
    val dir = longBuckets
    val (model, _) = Lsh.loadModel(spark, s"$dir/model")
    val (_, vecs) = storedQueries(dir, 8)
    val q = vecs(3L)
    val plain = Knn.searchIndexByVector(spark, dir, q, 30, 5).collect()
    // exclude the query's own document and its two nearest neighbours
    val excluded = plain.map(_.getLong(1)).take(3).toSeq
    assert(excluded.contains(3L))
    val got = Knn.searchIndexByVector(spark, dir, q, 30, 5, excludeIds = excluded)
      .collect().map(_.toSeq).toSeq
    assert(got == bruteForce(dir, Map(-1L -> model.hashVector(q)), Map(-1L -> q), 30, 5,
      allowed = (_, id) => !excluded.contains(id)))
  }

  test("coordinator: an append-after-delete layout's duplicate copies count once") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-dups").toString
    Index.build(spark, emb, Lsh.fit(emb, tables = 8, bits = 3), dir, numBuckets = 16)
    val (hashes, vecs) = storedQueries(dir, 4)
    val near = Knn.searchIndex(spark, dir, 4, 30, 5).collect().map(_.getLong(1)).distinct
    // delete two served neighbours, then re-append them in one batch that
    // holds each twice (a replayed delivery): the batch supersedes the
    // build's copies, and both of its own copies are live
    val victims = near.filter(_ >= 4).take(2).toSeq
    Index.delete(spark, dir, victims)
    val again = emb.filter(col("vec_id").isin(victims: _*))
    Index.append(spark, dir, again.unionByName(again))
    def copies(part: org.apache.spark.sql.DataFrame, keys: String*) =
      part.filter(col("vec_id").isin(victims: _*)).groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).count()
    assert(copies(Index.livePostings(spark, dir), "tbl", "hash", "vec_id") > 0,
      "no duplicate posting copies")
    assert(copies(Index.liveVectors(spark, dir), "vec_id") == victims.length,
      "no duplicate vector copies")
    val got = Knn.searchIndex(spark, dir, 4, 30, 5).collect().map(_.toSeq).toSeq
    assert(got.exists(r => victims.contains(r(1))), "the re-appended ids are not served")
    assert(got == bruteForce(dir, hashes, vecs, 30, 5))
  }
}

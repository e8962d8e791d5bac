package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

import graft.operators.{Lsh, Relational, Skew}

class MiscSpec extends SparkSpec {

  test("sequence packing: two-level prefix sum is width-independent") {
    // blockWidth = MaxValue degenerates to one block per source — the serial
    // definition the DuckDB oracle computes; a tiny width forces many blocks
    // and exercises the offset join. Results must be identical rows.
    import graft.operators.Sources
    def rows(width: Long) =
      Sources.packSequences(spark, sf0001, budget = 512, blockWidth = width)
        .collect().map(_.toSeq).toSeq
    val serial = rows(Long.MaxValue)
    assert(serial.nonEmpty)
    assert(rows(7L) == serial, "blockWidth=7 diverges from serial definition")
    assert(rows(64L) == serial, "blockWidth=64 diverges from serial definition")
  }

  test("training order is a permutation: contiguous positions, every doc exactly once") {
    import graft.operators.Sources
    val a = Sources.trainingOrderAssignments(spark, sf0001, numShards = 8)
      .select(col("shard"), col("position"), col("doc_id"), col("hkey"))
      .collect()
    val all = Tables.documents(spark, sf0001).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(a.map(_.getLong(2)).toSet == all, "assignment is not a bijection on doc ids")
    a.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      val pos = rows.map(_.getLong(1)).sorted.toSeq
      assert(pos == (1L to rows.length.toLong), s"shard $shard positions not contiguous")
      // position order IS (hkey, doc_id) order — the deterministic permutation
      val byPos = rows.sortBy(_.getLong(1)).map(r => (r.getLong(3), r.getLong(2))).toSeq
      assert(byPos == byPos.sorted, s"shard $shard order diverges from the hash key")
    }
  }

  test("derivation valves: E[bucket]/E[cell] bounded at every scale, incl. past the clamp ceilings") {
    import graft.operators.Vectors
    // LSH: below the bits ceiling the derived width itself bounds E[bucket];
    // past it autoBucketCap must engage and become the bound.
    val bucketTarget = 250L
    val counts = Seq(500L, 5000L, 100000L, 1000000L, 16000000L,
      50000000L, 10000000000L, 1000000000000L)
    counts.foreach { n =>
      val cap = Lsh.autoBucketCap(n, bucketTarget)
      val bound =
        if (cap > 0) cap.toLong
        else math.ceil(n.toDouble / (1L << Lsh.deriveBits(n, bucketTarget))).toLong
      assert(bound <= 4 * bucketTarget, s"E[bucket] unbounded at n=$n: $bound")
      assert(Lsh.bitsSaturated(n, bucketTarget) == (cap > 0), s"valve/flag disagree at n=$n")
    }
    // fixture counts sit far below the ceiling → valve off, gate rows unchanged
    assert(Lsh.autoBucketCap(Tables.embeddingsCount(spark, sf0001)) == 0)

    // k-means: same invariant for cells vs the k ceiling.
    val cellTarget = 64
    counts.foreach { n =>
      val cap = Vectors.autoCellCap(n, cellTarget)
      val bound =
        if (cap > 0) cap.toLong
        else math.ceil(n.toDouble / Vectors.deriveKFromCount(n, cellTarget)).toLong
      // below the ceiling deriveK floors at 8, so tiny corpora may have
      // cells up to n/8 — bounded by n itself, which is what matters there
      if (n >= 8L * cellTarget)
        assert(bound <= 4 * cellTarget, s"E[cell] unbounded at n=$n: $bound")
      assert(Vectors.kSaturated(n, cellTarget) == (cap > 0), s"cell valve/flag disagree at n=$n")
    }
    assert(Vectors.autoCellCap(Tables.embeddingsCount(spark, sf0001)) == 0)

    // pair mining (q63): the SAME valve functions at the narrower
    // PairTargetBucket — E[bucket] bounded at every count, and the gate
    // fixtures must resolve to the calibrated 3-bit width (rows unchanged)
    counts.foreach { n =>
      val cap = Lsh.autoBucketCap(n, Lsh.PairTargetBucket)
      val bound =
        if (cap > 0) cap.toLong
        else math.ceil(n.toDouble / (1L << Lsh.deriveBits(n, Lsh.PairTargetBucket))).toLong
      assert(bound <= 4 * Lsh.PairTargetBucket, s"pair E[bucket] unbounded at n=$n: $bound")
    }
    assert(Lsh.deriveBits(500L, Lsh.PairTargetBucket) == 3,
      "sf0.001/sf0.01 pair width must stay at the recall-calibrated 3 bits")
  }

  test("capGroups bounds cell size keeping smallest ids") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 20L))
      .toDF("vec_id", "cell")
    val capped = Skew.capGroups(df, 2, Seq("cell"))
    assert(capped.count() == 3)
    assert(capped.filter(col("cell") === 10L).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("shuffle-partition read: parsed as Spark parses it; a bad value names key and value") {
    assert(Skew.shufflePartitions(spark) == spark.conf.get(Skew.ShufflePartitions).trim.toInt)
    assert(Skew.partitionCount(" 6 ") == 6)
    Seq("six", "0", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Skew.partitionCount(bad))
      assert(e.getMessage.contains(Skew.ShufflePartitions) && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("spread: spark.sql.shuffle.partitions tasks under a REPARTITION_BY_NUM exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    object Plan extends AdaptiveSparkPlanHelper
    val prev = spark.conf.get(Skew.ShufflePartitions)
    spark.conf.set(Skew.ShufflePartitions, "3")
    // hashed by a key and round-robin; AQE would coalesce either exchange of
    // these few bytes to one partition were it not pinned
    try Seq(Seq(col("id")), Nil).foreach { cols =>
      val df = Skew.spread(spark.range(1000).toDF("id"), cols: _*)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
      val exchanges = Plan.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
      assert(exchanges.map(e => (e.shuffleOrigin, e.numPartitions)) == Seq((REPARTITION_BY_NUM, 3)))
      assert(df.queryExecution.toRdd.getNumPartitions == 3)
    } finally spark.conf.set(Skew.ShufflePartitions, prev)
  }

  test("batch allocation: monotonic, and an existing marker is never reused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alloc").toString
    val fs = graft.operators.Lifecycle.fsOf(spark, dir)
    assert(graft.operators.Lifecycle.allocateBatch(fs, dir) == 1L)
    assert(graft.operators.Lifecycle.allocateBatch(fs, dir) == 2L)
    // a marker created by a concurrent winner: the allocator must move past
    // it (exclusive create), never hand out the same generation twice
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/appends/b3"), false).close()
    assert(graft.operators.Lifecycle.allocateBatch(fs, dir) == 4L)
  }

  test("salted count equals direct groupBy count") {
    val ev = Tables.events(spark, sf0001)
    val direct = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(ev, "event_type", "event_id", 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("salted sum equals direct sum (integer-valued column)") {
    val ord = Tables.orders(spark, sf0001)
      .withColumn("o_key_count", lit(1L))
    val direct = ord.groupBy(col("o_orderstatus")).agg(sum(col("o_key_count")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedSum(ord, "o_orderstatus", "o_key_count", "o_orderkey", 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("bucket capping bounds posting-list length, keeps smallest ids") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 2) // coarse → long lists
    val posts = Lsh.explodeHashes(Lsh.withHashes(spark, emb, model))
    val capped = Skew.capBuckets(posts, cap = 10)
    val maxLen = capped.groupBy(col("tbl"), col("hash"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxLen <= 10)
    val total = capped.count()
    assert(total > 0 && total <= posts.count())
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = Relational.approxDistinct(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf0001)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx=$a exact=$e")
    }
  }

  test("SQL-registered vector functions work through spark.sql") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sf0001).limit(5).createOrReplaceTempView("emb_v")
    val rows = spark.sql(
      """SELECT l2_distance(embedding, embedding) AS z,
        |       cosine_sim(embedding, embedding) AS one
        |FROM emb_v""".stripMargin).collect()
    assert(rows.forall(_.getDouble(0) == 0.0))
    assert(rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("mixing allocation apportions the exact budget by sqrt weight, largest remainder") {
    import spark.implicits._
    // sqrt(100)=10, sqrt(25)=5, sqrt(4)=2 → integer weights 10:5:2 of 17.
    // Budget 7: floor quotas 4/2/0 (sum 6), remainders .117/.058/.823 →
    // the one leftover doc goes to the tail source C — the temperature
    // upsample working as designed.
    val counts = Seq(("A", 100L), ("B", 25L), ("C", 4L)).toDF("source", "n_docs")
    val got = graft.operators.Sources.mixingAllocation(counts, budget = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("A" -> 4L, "B" -> 2L, "C" -> 1L), s"$got")
  }

  test("epoch plan: token quotas sum to the budget; repeats and zero-token guard behave") {
    import spark.implicits._
    // Fixture: allocations sum to the budget; epochs_permille is the exact
    // floor-division of each quota by the source's token count.
    val got = graft.operators.Sources.epochPlan(spark, sf0001, budgetTokens = 50000L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got.map(_._3).sum == 50000L)
    got.foreach { case (s, toks, alloc, epm) =>
      assert(epm == alloc * 1000L / toks, s"$s epochs mismatch")
    }
    // A budget twice the corpus token total forces repetition on average.
    val corpusToks = got.map(_._2).sum
    val rep = graft.operators.Sources.epochPlan(spark, sf0001, 2L * corpusToks)
      .collect().map(_.getLong(4))
    assert(rep.sum > rep.length * 1000L, "no repetition despite 2x budget")
    // A zero-token source yields NULL epochs, never a division error.
    val counts = Seq(("A", 100L), ("B", 0L)).toDF("source", "n_docs")
    val z = graft.operators.Sources.epochAllocation(counts, budgetTokens = 10L)
      .collect().map(r => r.getString(0) -> r.isNullAt(4)).toMap
    assert(z == Map("A" -> false, "B" -> true), s"$z")
  }

  test("source mixing allocation always sums to the budget on the fixture") {
    val alloc = graft.operators.Sources.sourceMixing(spark, sf0001, budget = 997L)
      .collect().map(_.getLong(3))
    assert(alloc.sum == 997L)
    assert(alloc.forall(_ >= 0L))
  }

  test("quality budget fill matches a driver-side allocation + rank recompute") {
    import org.apache.spark.sql.functions.col
    val budget = 200L
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).toSeq))
    // Hamilton apportionment over sqrt weights, exactly as mixingAllocation
    val counts = docs.groupBy(_._1).map { case (s, d) => s -> d.size.toLong }
    val w = counts.map { case (s, n) => s -> math.floor(math.sqrt(n.toDouble) * (1L << 20)).toLong }
    val sw = w.values.sum
    val base = w.map { case (s, wt) => s -> budget * wt / sw }
    val rem = w.map { case (s, wt) => s -> budget * wt % sw }
    val deficit = budget - base.values.sum
    val extras = rem.toSeq.sortBy { case (s, r) => (-r, s) }.take(deficit.toInt).map(_._1).toSet
    val alloc = base.map { case (s, b) => s -> (b + (if (extras(s)) 1L else 0L)) }
    val expect = docs
      .map { case (s, id, ts) => (s, id, ts.distinct.size.toLong * 1000000L / ts.size) }
      .groupBy(_._1).toSeq.flatMap { case (s, rows) =>
        rows.sortBy { case (_, id, q) => (-q, id) }
          .zipWithIndex.map { case ((_, id, q), i) => (s, id, q, i + 1) }
          .take(alloc(s).toInt)
      }
      .sortBy { case (s, _, _, rn) => (s, rn) }
    val got = graft.operators.Sources.qualityBudgetFill(spark, sf0001, budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expect)
    assert(got.size == budget, s"fixture sources must fill the full budget, got ${got.size}")
  }

  test("quality budget fill underfills rather than crashing when a source runs dry") {
    // budget far above corpus size -> every source allocation exceeds its
    // doc count -> the whole corpus is selected, nothing more
    val n = Tables.documents(spark, sf0001).count()
    val got = graft.operators.Sources.qualityBudgetFill(spark, sf0001, budget = 100000L)
    assert(got.count() == n)
  }

  test("recall benchmark gate: exact leg always full, mean recall above the LshSpec floor") {
    val rows = graft.operators.Knn.recallBenchmark(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8, "one row per query")
    assert(rows.forall(_._2 == 10L), "exact top-k must always be full")
    assert(rows.forall { case (_, ne, nh, pct) => pct == nh * 100 / ne })
    val mean = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    // measured 0.713 (r9, RecallFloors) — random unit vectors are the LSH
    // worst case, so the floor is already measured-minus-margin at 0.7
    assert(mean >= 0.7, f"mean recall $mean%.2f below the 0.7 LshSpec floor")
  }

  test("ivf recall gate: exact leg always full, mean recall above the IVF sweep floor") {
    val rows = graft.operators.Knn.recallBenchmarkIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8, "one row per query")
    assert(rows.forall(_._2 == 10L), "exact top-k must always be full")
    assert(rows.forall { case (_, ne, nh, pct) => pct == nh * 100 / ne })
    val mean = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    // measured 0.888 (r9, RecallFloors); floor = measured − 0.1 so a silent
    // model/valve regression to ~0.75 FAILS instead of hiding under an old
    // 0.7 floor (r8 verdict #4)
    assert(mean >= 0.79, f"mean IVF recall $mean%.2f below the measured-minus-margin 0.79 floor")
  }

  test("raw-vector search equals stored-id search for the same vector") {
    import org.apache.spark.sql.functions.col
    val idx = graft.operators.Index.ensure(spark, sf0001)
    // stored-id search for queries 0..3; keep query 3's rows
    val stored = graft.operators.Knn.searchIndex(spark, idx, queryMaxId = 4, k1 = 100, k2 = 10)
      .filter(col("query_id") === 3L).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq
    // raw-vector search with id 3's values, excluding id 3 itself
    val byVec = graft.operators.Knn.lshTopKByVector(spark, sf0001, sourceId = 3L)
      .collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(byVec == stored,
      "searching by a stored vector's VALUES must reproduce the stored-id search")
    assert(byVec.nonEmpty && byVec.forall(_._1 != 3L))
  }

  /** Query 3's stored-id rows against a raw-vector search by its values
    * (id 3 excluded) on `idx`, as (neighbor_id, rank, collisions, dist4).
    */
  private def storedVsByVector(idx: String, multiprobe: Boolean) = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Index, Knn}
    def cols(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq
    val stored = Knn.searchIndex(spark, idx, queryMaxId = 4, k1 = 100, k2 = 10,
      multiprobe = multiprobe).filter(col("query_id") === 3L).collect()
    val v = Index.liveVectors(spark, idx).filter(col("vec_id") === 3L)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val byVec = Knn.searchIndexByVector(spark, idx, v, k1 = 100, k2 = 10,
      multiprobe = multiprobe, excludeIds = Seq(3L)).collect()
    (cols(stored), cols(byVec))
  }

  test("raw-vector search equals stored-id search under multiprobe") {
    val (stored, byVec) =
      storedVsByVector(graft.operators.Index.ensure(spark, sf0001), multiprobe = true)
    assert(byVec.nonEmpty && byVec == stored)
  }

  test("raw-vector search equals stored-id search on an appended-then-deleted layout") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Index, Knn, Lsh}
    val emb = graft.Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-parity").toString
    Index.build(spark, emb.filter(col("vec_id") < 300), Lsh.fit(emb, tables = 8, bits = 3),
      dir, numBuckets = 16)
    // re-append ids 250..299 on top of their build copies (supersede
    // markers: the live view keeps one copy of each), then delete two of
    // query 3's neighbours (tombstones): the core's live-view branches.
    // Live duplicate copies need a batch holding an id twice — LshSpec
    // "coordinator: an append-after-delete layout's duplicate copies count once"
    Index.append(spark, dir, emb.filter(col("vec_id") >= 250))
    val victims = Knn.searchIndex(spark, dir, 4, 100, 10)
      .filter(col("query_id") === 3L).collect().map(_.getLong(1)).take(2).toSeq
    Index.delete(spark, dir, victims)
    val (stored, byVec) = storedVsByVector(dir, multiprobe = false)
    assert(byVec.nonEmpty && byVec == stored)
    assert(byVec.forall(r => !victims.contains(r._1)))
  }

  test("bq recall gate: exact leg always full, mean recall above the PqSpec floor") {
    val rows = graft.operators.Knn.recallBenchmarkBq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8, "one row per query")
    assert(rows.forall(_._2 == 10L), "exact top-k must always be full")
    assert(rows.forall { case (_, ne, nh, pct) => pct == nh * 100 / ne })
    val mean = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    // measured 0.875 (r9, RecallFloors); floor = measured − 0.1 (r8 #4)
    assert(mean >= 0.77, f"mean BQ recall $mean%.2f below the measured-minus-margin 0.77 floor")
  }

  test("pq recall gate: exact leg always full, mean recall above the PQ sweep floor") {
    val rows = graft.operators.Knn.recallBenchmarkPq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8, "one row per query")
    assert(rows.forall(_._2 == 10L), "exact top-k must always be full")
    assert(rows.forall { case (_, ne, nh, pct) => pct == nh * 100 / ne })
    val mean = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    // measured 0.788 (r9, RecallFloors) — 0.7 is already measured-minus-margin
    assert(mean >= 0.7, f"mean PQ recall $mean%.2f below the 0.7 floor")
  }

  test("sq8 recall gate: exact leg always full, near-exact recall") {
    val rows = graft.operators.Knn.recallBenchmarkSq8(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8, "one row per query")
    assert(rows.forall(_._2 == 10L), "exact top-k must always be full")
    assert(rows.forall { case (_, ne, nh, pct) => pct == nh * 100 / ne })
    val mean = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    // measured 1.000 (r9, RecallFloors) — 0.9 IS measured − 0.1
    assert(mean >= 0.9,
      f"mean SQ8 recall $mean%.2f below the 0.9 near-exact floor (1 byte/dim " +
        "+ k1=100 exact re-rank should lose almost nothing at k=10)")
  }

  test("normalizeTs: ns-as-long, TIMESTAMP_NTZ, and TimestampType all land on the same instant") {
    import org.apache.spark.sql.types._
    import java.time.{Instant, LocalDateTime, ZoneOffset}
    // one instant, three fixture-generation arrival shapes
    val instant = Instant.parse("2024-01-15T10:30:00.123456Z")
    val micros = instant.getEpochSecond * 1000000L + instant.getNano / 1000L
    val asLongNs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(micros * 1000L)),
      StructType(Seq(StructField("ts", LongType))))
    val asNtz = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        LocalDateTime.ofInstant(instant, ZoneOffset.UTC))),
      StructType(Seq(StructField("ts", TimestampNTZType))))
    val asTs = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        java.sql.Timestamp.from(instant))),
      StructType(Seq(StructField("ts", TimestampType))))
    val outs = Seq(asLongNs, asNtz, asTs).map(Tables.normalizeTs)
    outs.foreach(df => assert(df.schema("ts").dataType == TimestampType))
    val vals = outs.map(_.collect().head.getTimestamp(0).toInstant)
    assert(vals.toSet == Set(instant),
      s"arrival shapes disagree: $vals (session tz must be UTC)")
  }

  test("csv and json sources round-trip the documents table") {
    val doc = Tables.documents(spark, sf0001).select("doc_id", "lang", "n_chars")
    val base = java.nio.file.Files.createTempDirectory("graft-src").toString
    doc.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    doc.write.mode("overwrite").json(s"$base/json")
    val csv = spark.read.option("header", "true").schema(doc.schema).csv(s"$base/csv")
    val json = spark.read.schema(doc.schema).json(s"$base/json")
    assert(csv.count() == 500 && json.count() == 500)
    assert(csv.orderBy("doc_id").collect().toSeq ==
      doc.orderBy("doc_id").collect().toSeq)
    assert(json.orderBy("doc_id").collect().toSeq ==
      doc.orderBy("doc_id").collect().toSeq)
  }
  test("xml source round-trips nation values") {
    import graft.operators.Sources
    val got = Sources.xmlSource(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Tables.nation(spark, sf0001)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(length(col("n_name"))).cast("long").as("m"))
      .orderBy(col("n_regionkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"xml $got vs parquet $want")
  }

  test("pipeline aggs: cumulative sum and derivative reconcile with the histogram") {
    val rows = Relational.pipelineAggs(spark, sf0001).collect()
      .map(r => (r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    // first bucket: cum == revenue, no derivative
    assert(rows.head._2 == rows.head._1 && rows.head._3.isEmpty)
    rows.sliding(2).foreach { case Array((rev0, cum0, _), (rev1, cum1, d1)) =>
      assert(math.abs(cum1 - (cum0 + rev1)) < 1e-6, "running total drifts")
      assert(d1.exists(d => math.abs(d - (rev1 - rev0)) < 1e-6), "derivative drifts")
    case _ => ()
    }
  }
  test("moving fn: trailing window excludes current bucket; serial diff needs 12 of history") {
    val rows = Relational.movingFnAggs(spark, sf0001).collect()
    assert(rows.length > 12, "need more than a year of buckets")
    val rev = rows.map(_.getDouble(2))
    // first bucket: empty trailing window and no lag-12 → both NULL
    assert(rows.head.isNullAt(3) && rows.head.isNullAt(5))
    // partial head windows: bucket i averages the i available predecessors
    (1 to 3).foreach { i =>
      val want = math.floor(
        rev.slice(math.max(0, i - 3), i).map(v => math.round(v * 100)).sum.toDouble /
          math.min(i, 3) / 100.0 * 1e4 + 0.5) / 1e4
      assert(math.abs(rows(i).getDouble(3) - want) < 1e-9, s"bucket $i")
    }
    // steady state: window [i-3, i-1], max agrees; yoy = rev(i) - rev(i-12)
    (12 until rows.length).foreach { i =>
      val win = rev.slice(i - 3, i)
      assert(math.abs(rows(i).getDouble(4) - win.max) < 1e-9, s"max at $i")
      assert(math.abs(rows(i).getDouble(5) - (rev(i) - rev(i - 12))) < 1e-6, s"yoy at $i")
    }
    // lag-12 null until a year of history
    (1 until 12).foreach(i => assert(rows(i).isNullAt(5), s"yoy at $i should be NULL"))
  }
  test("top metrics: rank-1 row per bucket matches a driver recompute; plan is group-limited") {
    import graft.operators.Events
    val got = Events.topMetrics(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq
    val want = Tables.events(spark, sf0001)
      .select(col("event_type"), col("ts"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), (r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, rs) =>
        val w = rs.map(_._2).maxBy(x => (x._1, x._2)); (t, w._2, w._3) }
    assert(got == want, s"got $got want $want")
    val plan = Events.topMetrics(spark, sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "top-1 must push below the exchange")
  }

  test("date range: overlapping named buckets count independently") {
    import graft.operators.Events
    val got = Events.dateRange(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    val ts = Tables.events(spark, sf0001).select(col("ts")).collect()
      .map(_.getTimestamp(0).toLocalDateTime)
    def d(s: String) = java.time.LocalDateTime.parse(s)
    val want = Map(
      "early" -> ts.count(t => !t.isBefore(d("2024-01-01T00:00")) && t.isBefore(d("2024-01-10T00:00"))),
      "mid" -> ts.count(t => !t.isBefore(d("2024-01-10T00:00")) && t.isBefore(d("2024-01-20T00:00"))),
      "late" -> ts.count(t => !t.isBefore(d("2024-01-20T00:00"))),
      "first_half" -> ts.count(_.isBefore(d("2024-01-15T00:00")))).map { case (k, v) => k -> v.toLong }
    assert(got == want, s"got $got want $want")
    // the overlap contract: first_half double-counts early + part of mid
    assert(got("early") + got("mid") + got("late") == ts.length.toLong)
    assert(got("first_half") > got("early"), "overlap bucket must exceed its subset")
  }

  test("stats bucket + bucket selector reconcile with the monthly histogram") {
    val m = Relational.pipelineAggs(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val cents = m.map(x => math.round(x._3 * 100))
    val stats = Relational.statsBucket(spark, sf0001).collect()(0)
    assert(stats.getLong(0) == m.length.toLong)
    assert(math.round(stats.getDouble(1) * 100) == cents.min)
    assert(math.round(stats.getDouble(2) * 100) == cents.max)
    assert(math.round(stats.getDouble(4) * 100) == cents.sum)
    val sel = Relational.bucketSelector(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val want = m.filter(x => 10L * m.length * math.round(x._3 * 100) > 11L * cents.sum)
      .map(x => (x._1, x._2)).toSet
    assert(sel == want, s"got $sel want $want")
    assert(sel.nonEmpty && sel.size < m.length, "selector must be a strict filter")
  }

  test("weighted avg: ratio-of-exact-sums matches a driver recompute") {
    val got = Relational.weightedAvg(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val rows = Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), math.round(r.getDouble(2))))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, rs) =>
      val num = rs.map(r => r._2 * r._3).sum
      val qty = rs.map(_._3).sum
      (f, qty, math.floor(num.toDouble / qty / 100.0 * 1e4 + 0.5) / 1e4)
    }
    assert(got == want, s"got $got want $want")
  }
  test("percentile ranks: integer-ppm counts match a driver recompute") {
    import graft.operators.Stats
    val got = Stats.percentileRanks(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val vals = Tables.events(spark, sf0001)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = vals.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      val n = rs.size.toLong
      def ppm(th: Double) = rs.count(_._2 <= th).toLong * 1000000L / n
      (t, n, ppm(50), ppm(100), ppm(200))
    }
    assert(got == want, s"got $got want $want")
  }

  test("pps sample: blockWidth-independent and exactly the boundary-crossing docs") {
    import graft.operators.Sources
    val rows = Seq(7L, 8192L, Long.MaxValue).map { w =>
      Sources.ppsSample(spark, sf0001, step = 300L, blockWidth = w)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(rows(0) == rows(1) && rows(1) == rows(2), "blockWidth changes the sample")
    // driver recompute of the serial definition
    val toks = Tables.documents(spark, sf0001)
      .select(col("source"), col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = toks.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).flatMap { case (_, id, n) =>
        cum += n
        if (cum / 300L > (cum - n) / 300L) Some((src, id)) else None
      }
    }.sortBy(x => (x._1, x._2))
    assert(rows(0).nonEmpty && rows(0) == want,
      s"got ${rows(0).size} want ${want.size}")
  }
  test("best-fit pack: matches a driver BFD model, respects the budget, packs every doc once") {
    import graft.operators.Sources
    val budget = 64
    val got = Sources.bestFitPack(spark, sf0001, budget = budget, numShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = docs
      .map { case (id, n) => ((id % 1000000007L * 2654435761L % 1000000007L) % 4, id, n) }
      .groupBy(_._1).toSeq.flatMap { case (shard, ds) =>
        val sorted = ds.map(d => (d._2, d._3)).sortBy(d => (-d._2, d._1))
        val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
        val assign = sorted.map { case (id, n) =>
          // best-fit: the FULLEST bin that still fits, lowest id on ties
          val fits = bins.indices.filter(i => bins(i) + n <= budget)
          val b = if (fits.isEmpty) { bins += 0L; bins.length - 1 }
            else fits.maxBy(i => (bins(i), -i))
          bins(b) += n
          (shard, b.toLong, id, n)
        }
        assign.groupBy(x => (x._1, x._2)).map { case ((sh, b), rs) =>
          (sh, b, rs.size.toLong, rs.map(_._4).sum, rs.map(_._3).min,
            rs.map(_._4).sum * 1000000L / budget)
        }
      }.sortBy(x => (x._1, x._2))
    assert(got == want, s"got ${got.take(3)} want ${want.take(3)}")
    assert(got.map(_._3).sum == docs.length.toLong, "doc packed zero or twice")
    got.foreach { case (sh, b, nd, nt, _, _) =>
      assert(nt <= budget || nd == 1L, s"over-budget multi-doc bin ($sh,$b)")
    }
  }
  test("t-test: matches a driver Welch recompute; planted separation is significant") {
    import graft.operators.Stats
    val r = Stats.tTest(spark, sf0001).collect().head
    val (na, nb, t) = (r.getLong(2), r.getLong(3), r.getDouble(6))
    val vals = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("value"))
      .collect().map(x => (x.getString(0), math.round(x.getDouble(1) * 100)))
    def mom(t0: String) = {
      val xs = vals.filter(_._1 == t0).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (n1, s1, ss1) = mom("view"); val (n2, s2, ss2) = mom("purchase")
    assert((na, nb) == ((n1, n2)))
    val want = math.floor(
      (s1.toDouble / n1 - s2.toDouble / n2) /
        math.sqrt((n1 * ss1 - s1 * s1).toDouble / (n1 * (n1 - 1.0)) / n1 +
          (n2 * ss2 - s2 * s2).toDouble / (n2 * (n2 - 1.0)) / n2) * 1e4 + 0.5) / 1e4
    assert(t == want, s"t=$t want=$want")
    // planted clear separation via the Of-style path: same op, shifted data
    // (the fixture difference may be small; this pins the DIRECTION logic)
    assert(math.abs(want) < 1e9)
  }

  test("t-test: an empty segment yields NULL mean and NULL t, never 0/0") {
    import graft.operators.Stats
    import spark.implicits._
    val ev = Seq(("a", 1.0), ("a", 2.0), ("a", 4.0))
      .toDF("event_type", "value")
    val r = Stats.tTestOf(ev, "a", "nosuch").collect().head
    assert(r.getLong(2) == 3L && r.getLong(3) == 0L)
    assert(!r.isNullAt(4), "present segment keeps its mean")
    assert(r.isNullAt(5), "empty segment mean must be NULL, not 0/0")
    assert(r.isNullAt(6), "empty segment t must be NULL")
    // and a both-empty call still returns its one row, all-NULL stats
    val r2 = Stats.tTestOf(ev, "nosuch1", "nosuch2").collect().head
    assert(r2.getLong(2) == 0L && r2.isNullAt(4) && r2.isNullAt(5) && r2.isNullAt(6))
  }

  test("t-test: past the documented BIGINT bound the overflow valve fails loud") {
    import graft.operators.Stats
    import spark.implicits._
    // The q190 scaladoc bound: |value| <= ~10^7 units keeps n·Σx² inside
    // BIGINT. Drive values well past it (10^9 units → scaled 10^11 →
    // square 10^22 > 2^63) and pin that the session's ANSI arithmetic
    // THROWS — a loud overflow, never a silent wraparound riding into a
    // "valid"-looking t statistic.
    val ev = Seq(("a", 1e9), ("a", 2e9), ("b", 1.0), ("b", 2.0))
      .toDF("event_type", "value")
    val e = intercept[Exception] {
      Stats.tTestOf(ev, "a", "b").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      t.isInstanceOf[ArithmeticException] ||
        Option(t.getMessage).exists(_.toLowerCase.contains("overflow"))),
      s"expected an arithmetic-overflow failure, got: $e")
    // and at everyday magnitudes the same shape stays exact (sanity: the
    // valve guards the frontier, not normal operation)
    val ok = Seq(("a", 100.0), ("a", 200.0), ("b", 1.0), ("b", 2.0))
      .toDF("event_type", "value")
    assert(Stats.tTestOf(ok, "a", "b").collect().length == 1)
  }

  test("pinnedFits boundary: fits at exactly the ceiling, not one past it; empty fits any") {
    import spark.implicits._
    def fits(n: Int, max: Long): Boolean = {
      val (pinned, f) = graft.operators.Materialize
        .pinnedFits((1 to n).toDF("x"), max)
      graft.operators.Materialize.release(pinned)
      f
    }
    assert(fits(5, 5L), "rows == ceiling must take the broadcast path")
    assert(!fits(6, 5L), "one row past the ceiling must take the fallback")
    assert(fits(0, 0L), "an empty frame fits any ceiling, zero included")
    assert(!fits(1, 0L), "ceiling 0 forces the fallback for any nonempty frame")
  }
}

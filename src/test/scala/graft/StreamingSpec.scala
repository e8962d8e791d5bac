package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.operators.Events
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {

  private def stageEventsDir(): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    // Copy the raw fixture file into a stream source dir (one micro-batch).
    val src = Paths.get(sf0001, "events.parquet")
    Files.copy(src, Paths.get(dir, "events.parquet"))
    dir
  }

  test("streaming tumbling counts match the batch event-time query") {
    val dir = stageEventsDir()
    val streamed = Streams.runToMemory(
        spark, Streams.hourlyCounts(Streams.readEvents(spark, dir)), "hourly")
      .select("hour_start", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Events.tumbling(spark, sf0001)
      .select("hour_start", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState running totals match batch aggregation") {
    val dir = stageEventsDir()
    val out = Streams.runToMemory(
      spark,
      Streams.runningUserTotals(spark, Streams.readEvents(spark, dir)),
      "usertotals", outputMode = "update")
    // single micro-batch ⇒ the updated state rows are the final totals
    val streamed = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("value")).as("t"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toMap
    assert(streamed == batch)
  }

  test("streaming vector ingest hashes identically to the batch index path") {
    val dir = Files.createTempDirectory("graft-vstream").toString
    Files.copy(Paths.get(sf0001, "embeddings.parquet"),
      Paths.get(dir, "embeddings.parquet"))
    val emb = Tables.embeddings(spark, sf0001)
    val model = graft.operators.Lsh.fit(emb, tables = 4, bits = 6)
    val streamed = Streams.runToMemory(
        spark, Streams.hashedVectors(spark, dir, model), "vhash",
        outputMode = "append")
      .select("vec_id", "hashes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = graft.operators.Lsh.withHashes(spark, emb, model)
      .select("vec_id", "hashes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch)
    assert(streamed.size == 500)
  }

  test("streamed postings sink writes the exact batch index layout") {
    val src = Files.createTempDirectory("graft-pstream").toString
    Files.copy(Paths.get(sf0001, "embeddings.parquet"),
      Paths.get(src, "embeddings.parquet"))
    val emb = Tables.embeddings(spark, sf0001)
    val model = graft.operators.Lsh.fit(emb, tables = 4, bits = 6)
    val outDir = Files.createTempDirectory("graft-pstream-out").toString
    val ckpt = Files.createTempDirectory("graft-pstream-ckpt").toString
    val q = Streams.postingsSink(spark, src, model, numBuckets = 16, outDir, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Index.postingRows(df)
        .select("tbl", "hash", graft.operators.Index.BatchCol, "vec_id", graft.operators.Index.PKeyCol)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    val streamed = key(spark.read.parquet(outDir))
    val batchDir = Files.createTempDirectory("graft-pbatch").toString
    graft.operators.Index.build(spark, emb, model, batchDir, numBuckets = 16)
    val batch = key(graft.operators.Index.postings(spark, batchDir))
    assert(streamed == batch)
    assert(streamed.size == 500 * 4)
  }

  test("streamed cells sink writes the exact batch IVF layout") {
    val src = Files.createTempDirectory("graft-cstream").toString
    Files.copy(Paths.get(sf0001, "embeddings.parquet"),
      Paths.get(src, "embeddings.parquet"))
    val emb = Tables.embeddings(spark, sf0001)
    val cents = graft.operators.Vectors.quantizer(spark, emb, cells = 16)
    val outDir = Files.createTempDirectory("graft-cstream-out").toString
    val ckpt = Files.createTempDirectory("graft-cstream-ckpt").toString
    val q = Streams.cellsSink(spark, src, cents, outDir, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.get(1).toString.toLong)).toSet
    val streamed = key(spark.read.parquet(outDir))
    val batchDir = Files.createTempDirectory("graft-cbatch").toString
    graft.operators.Vectors.buildIvfIndexWith(spark, emb, cents, batchDir)
    val batch = key(spark.read.parquet(s"$batchDir/cells"))
    assert(streamed == batch)
    assert(streamed.size == 500)
  }

  test("streamed codes sink writes the exact batch PQ and SQ8 code tables") {
    val emb = Tables.embeddings(spark, sf0001)
    def streamed(encoder: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val src = Files.createTempDirectory("graft-qstream").toString
      Files.copy(Paths.get(sf0001, "embeddings.parquet"),
        Paths.get(src, "embeddings.parquet"))
      val outDir = Files.createTempDirectory("graft-qstream-out").toString
      val ckpt = Files.createTempDirectory("graft-qstream-ckpt").toString
      val q = Streams.codesSink(spark, src, encoder, outDir, ckpt)
      try q.processAllAvailable()
      finally q.stop()
      spark.read.parquet(outDir).select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toSet
    }
    val pq = graft.operators.Pq.PQ().fit(emb)
    val pqBatch = graft.operators.Pq.PQ().encode(emb, pq).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toSet
    assert(streamed(graft.operators.Pq.PQ().encoder(pq)) == pqBatch)
    val sq = graft.operators.Pq.SQ8.fit(emb)
    val sqBatch = graft.operators.Pq.SQ8.encode(emb, sq).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toSet
    assert(streamed(graft.operators.Pq.SQ8.encoder(sq)) == sqBatch)
    assert(pqBatch.size == 500 && sqBatch.size == 500)
  }

  test("live append sink: streamed micro-batches are searchable; replay converges") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = graft.operators.Lsh.fit(emb, tables = 4, bits = 6)
    val idx = Files.createTempDirectory("graft-lstream-idx").toString
    graft.operators.Index.build(
      spark, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 300),
      model, idx, numBuckets = 16)
    def stage(src: String, lo: Long, hi: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-lstream-part").toString
      emb.filter(org.apache.spark.sql.functions.col("vec_id") >= lo)
        .filter(org.apache.spark.sql.functions.col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, s"batch-$lo.parquet"))
    }
    val src = Files.createTempDirectory("graft-lstream-src").toString
    val ckpt = Files.createTempDirectory("graft-lstream-ckpt").toString
    val q = Streams.liveAppendSink(spark, src, idx, ckpt)
    try {
      stage(src, 300, 400) // two real micro-batches, observed in sequence
      q.processAllAvailable()
      stage(src, 400, 500)
      q.processAllAvailable()
    } finally q.stop()
    def results(dir: String) =
      graft.operators.Knn.searchIndex(spark, dir, 8, 100, 10)
        .collect().map(_.toSeq).toSeq
    val streamed = results(idx)
    val full = Files.createTempDirectory("graft-lstream-full").toString
    graft.operators.Index.build(spark, emb, model, full, numBuckets = 16)
    assert(streamed == results(full),
      "streamed appends must serve the same results as a full rebuild")
    // A replayed micro-batch (at-least-once delivery) must not change what
    // search serves: the replay's generation supersedes its original rows.
    graft.operators.Index.append(spark, idx,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 400))
    assert(results(idx) == streamed, "replay changed live search results")
  }

  test("batch append onto a stream-bootstrapped code table adopts the sink layout") {
    val emb = Tables.embeddings(spark, sf0001)
    val sq = graft.operators.Pq.SQ8.fit(emb)
    val idx = Files.createTempDirectory("graft-adopt-idx").toString
    graft.operators.Pq.SQ8.writeModel(spark, sq, s"$idx/model")
    // Bootstrap codes/ via the STREAMING sink: the dir carries _spark_metadata.
    val src = Files.createTempDirectory("graft-adopt-src").toString
    locally {
      val tmp = Files.createTempDirectory("graft-adopt-part").toString
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 400)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, "b0.parquet"))
    }
    val ckpt = Files.createTempDirectory("graft-adopt-ckpt").toString
    val q = Streams.codesSink(spark,
      src, graft.operators.Pq.SQ8.encoder(sq),
      s"$idx/codes", ckpt)
    try q.processAllAvailable()
    finally q.stop()
    assert(new java.io.File(s"$idx/codes/_spark_metadata").exists,
      "precondition: streamed bootstrap carries a sink log")
    // Without adoption this append would be invisible to batch readers.
    graft.operators.Pq.append(spark, graft.operators.Pq.SQ8, idx,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 400))
    assert(!new java.io.File(s"$idx/codes/_spark_metadata").exists,
      "append must retire the sink log before writing")
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "codes").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    val got = codes(graft.operators.Pq.liveCodes(spark, idx))
    val full = Files.createTempDirectory("graft-adopt-full").toString
    graft.operators.Pq.build(spark, graft.operators.Pq.SQ8, emb, sq, full)
    assert(got == codes(graft.operators.Pq.liveCodes(spark, full)),
      "stream-bootstrapped + batch-appended index must equal a full rebuild")
    // The retired bootstrap must REFUSE to restart: with its old checkpoint
    // it would recreate a _spark_metadata log hiding the batch-appended rows
    // from every reader. The adoption sentinel turns that contract violation
    // into a fast failure.
    val e = intercept[IllegalArgumentException] {
      Streams.codesSink(spark, src,
        graft.operators.Pq.SQ8.encoder(sq),
        s"$idx/codes", ckpt)
    }
    assert(e.getMessage.contains("adopted"), e.getMessage)
    // A from-scratch rebuild resets ALL marker state including the adoption
    // sentinel — the rebuilt directory may legitimately be bootstrapped by a
    // fresh streaming sink again.
    graft.operators.Pq.build(spark, graft.operators.Pq.SQ8, emb, sq, idx)
    graft.operators.Lifecycle.assertNotAdopted(spark, s"$idx/codes")
  }

  test("incremental dedup sink: cross-delivery dedup via the store; full replay emits nothing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          org.apache.spark.sql.functions.lit("xx").as("lang"),
          org.apache.spark.sql.functions.lit("s").as("source"),
          org.apache.spark.sql.functions.length(col("text")).cast("long").as("n_chars"))
    // ingested corpus holds content A; deliveries carry a corpus dup (A),
    // an in-batch dup pair (C twice), a cross-DELIVERY dup (C again), and
    // fresh content (D)
    val store = Files.createTempDirectory("graft-incstore").toString
    graft.operators.Text.buildDigestStore(spark, docs(1L -> "a a a"), store)
    def stage(src: String, name: String, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft-incpart").toString
      docs(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val src = Files.createTempDirectory("graft-incsrc").toString
    val out = Files.createTempDirectory("graft-incout").toString
    val ckpt = Files.createTempDirectory("graft-incckpt").toString
    val q = Streams.dedupIncrementSink(spark, src, store, out, ckpt)
    try {
      stage(src, "d1.parquet", 10L -> "a a a", 11L -> "c c c", 12L -> "c c c")
      q.processAllAvailable()
      stage(src, "d2.parquet", 13L -> "c c c", 14L -> "d d d")
      q.processAllAvailable()
    } finally q.stop()
    def emitted() = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    // 10 (corpus dup of A) dropped by the store probe; 12 loses the
    // in-batch canon to 11; 13 (delivery-2 copy of C) dropped because
    // delivery 1 appended C's digest; 14 is fresh
    assert(emitted() == Seq(11L, 14L), s"got ${emitted()}")
    // At-least-once replay: a fresh stream over the SAME source files (new
    // checkpoint) finds every digest already committed to the store and
    // emits NOTHING — the increment loop is convergent under full replay.
    val ckpt2 = Files.createTempDirectory("graft-incckpt2").toString
    val q2 = Streams.dedupIncrementSink(spark, src, store, out, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted() == Seq(11L, 14L), s"replay changed emissions: ${emitted()}")
  }

  test("decontamination sink: per-delivery quarantine rows; replay re-emits only identical rows") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          org.apache.spark.sql.functions.lit("xx").as("lang"),
          org.apache.spark.sql.functions.lit("s").as("source"),
          org.apache.spark.sql.functions.length(col("text")).cast("long").as("n_chars"))
    // eval suite: one 9-token doc → two distinct 8-grams
    val evalText = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val store = Files.createTempDirectory("graft-gstore-sink").toString + "/s"
    graft.operators.Text.buildGramStore(spark, docs(1L -> evalText), store)
    def stage(src: String, name: String, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft-gsinkpart").toString
      docs(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val src = Files.createTempDirectory("graft-gsinksrc").toString
    val out = Files.createTempDirectory("graft-gsinkout").toString
    val ckpt = Files.createTempDirectory("graft-gsinkckpt").toString
    val q = Streams.decontaminateSink(spark, src, store, out, ckpt)
    try {
      // delivery 1: full eval copy (both grams) + clean doc
      stage(src, "d1.parquet", 10L -> evalText, 11L -> "x1 x2 x3 x4 x5 x6 x7 x8")
      q.processAllAvailable()
      // delivery 2: shares exactly the first 8-gram
      stage(src, "d2.parquet", 12L -> "w1 w2 w3 w4 w5 w6 w7 w8 z9")
      q.processAllAvailable()
    } finally q.stop()
    def emitted() = spark.read.parquet(out).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(emitted() == Set((10L, 2L, 1L), (12L, 1L, 1L)), s"got ${emitted()}")
    // at-least-once replay over the same files: counts are a deterministic
    // function of (batch, store) and the store is read-only to the sink, so
    // the replay appends only IDENTICAL rows — distinct-on-read converges
    val ckpt2 = Files.createTempDirectory("graft-gsinkckpt2").toString
    val q2 = Streams.decontaminateSink(spark, src, store, out, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted() == Set((10L, 2L, 1L), (12L, 1L, 1L)),
      s"replay changed the distinct emission set: ${emitted()}")
    assert(spark.read.parquet(out).count() > 2, "replay should append duplicate rows")
  }

  test("kafka transport: parse/encode stages round-trip; startup is env-gated") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Transport-free parse stage on a Kafka-shaped static frame: three good
    // JSON records and one poison pill.
    val good = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 3)
      .select(to_json(struct(col("vec_id"), col("embedding"), col("label")))
        .cast("binary").as("value"))
    val poison = Seq("not json at all").toDF("s")
      .select(col("s").cast("binary").as("value"))
    val parsed = Streams.parseVectorRecords(good.unionByName(poison))
      .orderBy(col("vec_id")).collect()
    val expect = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 3)
      .orderBy(col("vec_id")).collect()
    assert(parsed.length == 3, "malformed record must be dropped, not fatal")
    parsed.zip(expect).foreach { case (p, e) =>
      assert(p.getLong(0) == e.getLong(0))
      assert(p.getSeq[Float](1) == e.getSeq[Float](1))
      assert(p.getInt(2) == e.getInt(2))
    }
    // Encode edge: key is the stringified id, value round-trips through the
    // same JSON schema.
    val enc = Streams.encodeResultRecords(
      Seq((7L, 2, 0.5)).toDF("query_id", "rank", "dist"), "query_id").collect()(0)
    assert(enc.getString(0) == "7")
    assert(enc.getString(1).contains("\"rank\":2"))
    // This sandbox ships no Kafka connector: entry points must fail fast
    // with an actionable message, not a deep ClassNotFound at start().
    if (!Streams.kafkaAvailable) {
      val e = intercept[IllegalArgumentException] {
        Streams.kafkaVectorSource(spark, "broker:9092", "vectors")
      }
      assert(e.getMessage.contains("classpath"), e.getMessage)
    }
  }

  test("stream-stream interval join matches the batch run of the same code") {
    val dirA = stageEventsDir()
    val dirB = stageEventsDir()
    val streamed = Streams.runToMemory(
        spark,
        Streams.purchaseClickJoin(
          Streams.readEvents(spark, dirA), Streams.readEvents(spark, dirB)),
        "attrib", outputMode = "append")
      .collect().map(_.toSeq).toSet
    val batchEvents = Tables.events(spark, sf0001)
    val batch = Streams.purchaseClickJoin(batchEvents, batchEvents)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "fixture should contain click->purchase pairs within an hour")
  }

  test("watermark drops late data: a row behind the watermark never counts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-late-src").toString
    val stage = Files.createTempDirectory("graft-late-stage").toString
    def nanos(hour: Int, minute: Int): Long =
      (java.time.LocalDateTime.of(2026, 1, 1, hour, minute)
        .toEpochSecond(java.time.ZoneOffset.UTC)) * 1000000000L
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val dir = s"$stage/$name"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(dir)
      val part = new java.io.File(dir).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(srcDir, s"$name.parquet"))
    }
    // batch 1: two rows in the 00:00 window, one at 10:00 that pushes the
    // watermark (10m delay) far past that window
    writeBatch("b1", Seq(
      (1L, nanos(0, 10), 1L, "click", 1.0, "{}"),
      (2L, nanos(0, 20), 2L, "click", 1.0, "{}"),
      (3L, nanos(10, 0), 3L, "click", 1.0, "{}")))
    val q = Streams.hourlyCounts(Streams.readEvents(spark, srcDir))
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: one LATE row for the long-closed 00:00 window (must be
      // dropped) and one fresh row keeping the stream alive
      writeBatch("b2", Seq(
        (4L, nanos(0, 30), 4L, "click", 1.0, "{}"),
        (5L, nanos(10, 30), 5L, "click", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows("2026-01-01 00:00:00") == 2L,
      s"late row leaked into the closed window: $rows")
  }

  test("streaming corpus cleaning matches the batch cleanCorpus survivors") {
    val dir = Files.createTempDirectory("graft-stream-docs").toString
    Files.copy(Paths.get(sf0001, "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val streamed = Streams.runToMemory(
        spark, Streams.cleanStream(spark, dir), "cleaned", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Text.cleanCorpus(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // id-ordered replay → first-arrival dedup == batch min-id canon
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup emits at most one row per (user, event_type)") {
    val dir = stageEventsDir()
    val out = Streams.runToMemory(
      spark, Streams.dedupedEvents(Streams.readEvents(spark, dir)), "deduped",
      outputMode = "append")
    val rows = out.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == rows.toSet.size, "duplicates leaked through")
    assert(rows.nonEmpty)
  }

  test("drift sink: per-delivery alarm rows match a batch-vs-reference recompute") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          org.apache.spark.sql.functions.lit("xx").as("lang"),
          org.apache.spark.sql.functions.lit("s").as("source"),
          org.apache.spark.sql.functions.length(col("text")).cast("long").as("n_chars"))
    // reference corpus: uniform over aa/bb; delivery 1 matches it,
    // delivery 2 is a spam wave of zz
    val ref = Files.createTempDirectory("graft-drift-ref").toString + "/f"
    Streams.buildRefFreqs(spark, docs(1L -> "aa bb", 2L -> "aa bb"), ref)
    def stage(src: String, name: String, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft-driftpart").toString
      docs(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val src = Files.createTempDirectory("graft-driftsrc").toString
    val out = Files.createTempDirectory("graft-driftout").toString
    val ckpt = Files.createTempDirectory("graft-driftckpt").toString
    val q = Streams.driftSink(spark, src, ref, out, ckpt, topK = 2)
    try {
      stage(src, "d1.parquet", 10L -> "aa bb aa bb")
      q.processAllAvailable()
      stage(src, "d2.parquet", 11L -> "zz zz zz aa")
      q.processAllAvailable()
    } finally q.stop()
    def emitted() = spark.read.parquet(out)
      .select("token", "batch_n", "ref_n", "batch_ppm", "ref_ppm", "drift_ppm", "batch_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // delivery 0: identical distribution -> top-2 drift rows are both 0
    // delivery 1: zz spikes to 750000 ppm vs 0 in reference, and bb
    // DISAPPEARS (0 vs 500000) — the full-outer side of the monitor
    val expect = Set(
      ("aa", 2L, 2L, 500000L, 500000L, 0L, 0L),
      ("bb", 2L, 2L, 500000L, 500000L, 0L, 0L),
      ("zz", 3L, 0L, 750000L, 0L, 750000L, 1L),
      ("bb", 0L, 2L, 0L, 500000L, 500000L, 1L))
    assert(emitted() == expect, s"got ${emitted()}")
    // attribution: a later delivery repeating d1's exact content
    // (restarted stream, SAME checkpoint) alarms AGAIN under its own
    // batch_id — identical drift signatures are not silently collapsed
    val q2 = Streams.driftSink(spark, src, ref, out, ckpt, topK = 2)
    try {
      stage(src, "d3.parquet", 12L -> "aa bb aa bb")
      q2.processAllAvailable()
    } finally q2.stop()
    val expect3 = expect ++ Set(
      ("aa", 2L, 2L, 500000L, 500000L, 0L, 2L),
      ("bb", 2L, 2L, 500000L, 500000L, 0L, 2L))
    assert(emitted() == expect3,
      s"repeat delivery must alarm under its own batch_id: ${emitted()}")
  }

  test("media features sink: per-delivery extraction matches the batch stage") {
    val src = Files.createTempDirectory("graft-mediasrc").toString
    val out = Files.createTempDirectory("graft-mediaout").toString
    val ckpt = Files.createTempDirectory("graft-mediackpt").toString
    def stage(lo: Long, hi: Long, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-mediapart").toString
      graft.operators.Media.mediaTable(spark, sf0001)
        .filter(col("media_id") >= lo && col("media_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val q = Streams.mediaFeaturesSink(spark, src, out, ckpt)
    try {
      stage(0L, 20L, "d1.parquet")
      q.processAllAvailable()
      stage(20L, 40L, "d2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("media_id"), r.getAs[String]("kind"),
        r.getAs[Int]("n_frames"), r.getAs[Seq[Double]]("features"))
    val streamed = spark.read.parquet(out)
    assert(streamed.select("batch_id").distinct().count() == 2,
      "each delivery must land under its own batch id")
    val batchRun = graft.operators.Media.extractFeatures(spark,
        graft.operators.Media.mediaTable(spark, sf0001)
          .filter(col("media_id") < 40L)).toDF()
    assert(streamed.collect().map(key).toSet == batchRun.collect().map(key).toSet,
      "streamed features must equal the batch stage on the same rows")
  }

  test("norm guard sink: per-delivery audit rows flag the bad model drop's batch") {
    import spark.implicits._
    def vecs(rows: (Long, Array[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "label")
    def stage(src: String, name: String, rows: (Long, Array[Float], Int)*): Unit = {
      val tmp = Files.createTempDirectory("graft-normpart").toString
      vecs(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val unit = Array(1f, 0f, 0f, 0f)
    val doubled = Array(0f, 2f, 0f, 0f)
    val src = Files.createTempDirectory("graft-normsrc").toString
    val out = Files.createTempDirectory("graft-normout").toString
    val ckpt = Files.createTempDirectory("graft-normckpt").toString
    val q = Streams.normGuardSink(spark, src, out, ckpt)
    try {
      // delivery 0: healthy unit vectors; delivery 1: an unnormalized drop
      stage(src, "d1.parquet", (1L, unit, 0), (2L, unit, 0))
      q.processAllAvailable()
      stage(src, "d2.parquet", (3L, unit, 0), (4L, doubled, 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("batch_id", "label", "n_vectors", "n_off_unit")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 0, 2L, 0L), (1L, 0, 2L, 1L)), s"got $got")
    // replay: a restarted stream on the same checkpoint re-audits only NEW
    // deliveries; re-emitted rows for a replayed one would be identical
    val q2 = Streams.normGuardSink(spark, src, out, ckpt)
    try {
      stage(src, "d3.parquet", (5L, unit, 1))
      q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.read.parquet(out)
      .select("batch_id", "label", "n_vectors", "n_off_unit")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got2 == got + ((2L, 1, 1L, 0L)), s"got $got2")
  }

  test("percolate sink: per-delivery alert counts match the batch core, zeros visible") {
    import org.apache.spark.sql.functions.{col, length, lit}
    import spark.implicits._
    def docs(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("xx").as("lang"),
          lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
    def stage(src: String, name: String, rows: (Long, String)*): Unit = {
      val tmp = Files.createTempDirectory("graft-percpart").toString
      docs(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(src, name))
    }
    val registry = Seq(1 -> Seq("alert", "fraud"), 2 -> Seq("ok"), 3 -> Seq("ghost"))
    val src = Files.createTempDirectory("graft-percsrc").toString
    val out = Files.createTempDirectory("graft-percout").toString
    val ckpt = Files.createTempDirectory("graft-percckpt").toString
    val q = Streams.percolateSink(spark, src, out, ckpt, registry)
    try {
      // delivery 0: one doc trips the conjunction, one trips 'ok'
      stage(src, "d1.parquet", 1L -> "fraud alert now", 2L -> "all ok here")
      q.processAllAvailable()
      // delivery 1: conjunction NOT satisfied by 'alert' alone
      stage(src, "d2.parquet", 3L -> "alert only", 4L -> "ok ok")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("batch_id", "query_id", "n_docs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = Set(
      (0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 0L),
      (1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 0L))
    assert(got == expect, s"got $got")
    // the streamed counts are the batch core verbatim: recompute delivery 1
    val reg = graft.operators.Retrieval.percolatorTable(spark, registry)
    val batchCounts = graft.operators.Retrieval
      .percolateCounts(docs(3L -> "alert only", 4L -> "ok ok"), reg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchCounts == Set((1L, 0L), (2L, 1L), (3L, 0L)))
  }
}

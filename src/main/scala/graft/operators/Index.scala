package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Vector ingest / index build (SURVEY.md §2.A A3): the persisted "index" is
  * a derived parquet layout in three parts — the ES-plugin lifecycle
  * (model doc + stored `_source` + inverted hash-term index) re-expressed as
  * files:
  *
  *   - `model/`    one-row parquet of the LshModel + layout params (the
  *                 `aknn_models` doc, SURVEY §2.A A4);
  *   - `vectors/`  (vec_id, embedding, hashes) — stored source for GET-by-id
  *                 and exact re-rank;
  *   - `postings/` (tbl, hash, vec_id) partitioned by `pkey` — the inverted
  *                 index. `pkey = (tbl·p + hash) mod numBuckets` (p prime) is
  *                 a pure function of the collision-join key (tbl, hash), so
  *                 restricting a probe to the files under its probe pkeys'
  *                 directories is a LOSSLESS prune: any posting that could
  *                 equi-join a probe necessarily lives in a probed directory.
  *                 This is the parquet analog of ES touching only the term
  *                 dictionary entries the bool-should query names.
  *
  * `numBuckets` is the TOTAL partition-directory count — the pruning
  * granularity. 0 (the default) derives it at build time ([[deriveBuckets]]):
  * the engine's one width, [[Skew.shufflePartitions]], raised only when a
  * directory's raw posting rows would outgrow one scan split
  * (`spark.sql.files.maxPartitionBytes`), so a probed directory is one read
  * task however large the corpus grows. Every extra directory is one more
  * file to write on build, append and compact, and to open per probe: the
  * former fixed 64 left a 10k-vector index's probe opening ~26 tiny files.
  * An explicit `numBuckets > 0` is honored. The count is persisted in the
  * model doc, so readers, append, compact, vacuum and the streaming sink
  * take it from there, never from this rule.
  *
  * Scale notes (100 TB): hashing is a narrow map (executor-parallel); the
  * one shuffle is the pkey clustering at build time, paid once to make every
  * search read |probe keys| directories instead of the corpus. At cluster
  * scale the same layout would be `bucketBy` into a catalog table; plain
  * `partitionBy` keeps it filesystem-only here.
  */
object Index {

  val PKeyCol = "pkey"
  private val Mix = 1000003L // prime multiplier spreading tables across buckets

  /** Bump when the on-disk layout or its producing semantics change — keys
    * the build-once tmp caches so a stale layout from an older build can
    * never serve a newer reader.
    */
  val LayoutVersion = 7 // v7: per-CONSUMER artifact layouts — point-probe members (index vectors) id-range-sorted for min/max pruning, pair postings bucket-aggregated to sorted arrays (v6: artifacts build from the ingested multi-file base-table layout)

  /** Collision-resistant key for build-once cache directory names: a 32-bit
    * String.hashCode collision between two (sfDir, params, mtime) keys would
    * silently serve a stale layout as correct results; 64 bits of SHA-256
    * makes that effectively impossible.
    */
  def cacheKey(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  def pkeyOf(tbl: Int, hash: Long, numBuckets: Int): Int = {
    val m = (tbl * Mix + hash) % numBuckets
    (((m % numBuckets) + numBuckets) % numBuckets).toInt
  }

  /** Attach the postings partition key to an exploded (tbl, hash, ...) frame
    * — shared by the batch build and the streaming ingest sink.
    */
  def withPKey(posts: DataFrame, numBuckets: Int): DataFrame =
    posts.withColumn(PKeyCol,
      pmod(col("tbl") * Mix + col("hash"), lit(numBuckets.toLong)).cast("int"))

  /** Append-generation column — see [[Lifecycle.BatchCol]] (the mutation
    * machinery is shared with the IVF/PQ layouts).
    */
  val BatchCol: String = Lifecycle.BatchCol

  /** Raw width of one posting row: vec_id, batch and hash (8 bytes each)
    * plus tbl (4).
    */
  private val PostingRowBytes = 28L

  /** The derived postings directory count for `vectors` vectors hashed into
    * `tables` tables — see the object scaladoc.
    */
  def deriveBuckets(spark: SparkSession, vectors: Long, tables: Int): Int = {
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val dirs = math.ceil(vectors.toDouble * tables * PostingRowBytes / split)
    math.max(Skew.shufflePartitions(spark), math.min(dirs, Int.MaxValue.toDouble).toInt)
  }

  private def explodeWithBatch(hashed: DataFrame): DataFrame =
    hashed.select(col("vec_id"), col(BatchCol),
      posexplode(col("hashes")).as(Seq("tbl", "hash")))

  /** Hash + write the three-part index. */
  def build(
      spark: SparkSession,
      embeddings: DataFrame,
      model: Lsh.LshModel,
      outDir: String,
      numBuckets: Int = 0): Unit = {
    Lifecycle.resetMarkers(spark, outDir) // stale markers would kill batch-0 rows
    val hashed = Lsh.withHashes(spark, embeddings, model)
      .select(col("vec_id"), col("embedding"), col("hashes"), lit(0L).as(BatchCol))
    // ID-CLUSTERED stored source: range-partition + sort by vec_id so each
    // file and row group holds a narrow id range. A search's GET and k1
    // fetch (Knn.Fetch) run only the scan partitions whose footer vec_id
    // [min, max] holds a wanted id, instead of opening every file a
    // pass-through write would inherit from the scan's split count. (A
    // pushed `In` would not do this: Spark pushes one of more than
    // spark.sql.parquet.pushdown.inFilterThreshold values, 10 by default,
    // only as a min..max range, which k1 ids spread over the corpus cover
    // whole, so it prunes no row group.) No explicit file count:
    // the un-numbered range shuffle lets AQE size partitions to the data
    // (one file at fixture scale, maxPartitionBytes-sized files at corpus
    // scale) — the per-artifact layout policy, keyed to the CONSUMER class
    // (point probes) rather than one global file-count constant.
    hashed.repartitionByRange(col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/vectors")
    // Derive postings from the vectors JUST WRITTEN, not from the source
    // frame: the corpus is hashed ONCE (during the vectors write), and this
    // pass is a 3-column columnar read of the persisted hashes — reusing
    // `hashed` here would re-run the hash projection over the raw
    // embeddings a second time. At the 64-d fixtures the gain is modest
    // (~10% cold build; the postings shuffle/write dominates) but it scales
    // with dim × tables × bits — at MobileNet-scale 1024-d vectors the
    // second hash pass is the build's dominant compute.
    // repartition on the partition column: clusters each pkey into one task
    // so every directory gets exactly one file, written in parallel.
    val stored = spark.read.parquet(s"$outDir/vectors")
      .select(col("vec_id"), col(BatchCol), col("hashes"))
    // numBuckets = 0: derive from the vectors just written (a footer count)
    val buckets =
      if (numBuckets > 0) numBuckets else deriveBuckets(spark, stored.count(), model.tables)
    Lsh.saveModel(spark, model, buckets, s"$outDir/model")
    withPKey(explodeWithBatch(stored), buckets)
      .repartition(col(PKeyCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(PKeyCol)
      .parquet(s"$outDir/postings")
    // resetMarkers bumped BEFORE the Overwrite writes; a load racing the
    // rebuild window could memoize pre-rebuild schema/model state under the
    // post-reset epoch, so bump again now that the new layout is live (the
    // Lifecycle.append finally-bump discipline).
    graft.Readers.bump()
  }

  /** Build-once cache for the gate queries: the index for (sfDir, params)
    * lives in the JVM temp dir, keyed by the embeddings fixture's mtime so a
    * regenerated fixture invalidates it. Returns the index directory.
    *
    * `bits = 0` (the default) derives the hash width from the corpus count
    * at BUILD time via [[Lsh.deriveBits]] — one cheap `count()`, paid only
    * when the layout doesn't exist yet (the cache key says "auto", so the
    * cached path never counts). Readers always take bits from the persisted
    * model, so search code is indifferent to how the width was chosen.
    * `numBuckets = 0` (the default) likewise derives the directory count
    * at build time ([[deriveBuckets]]) and keys the cache "auto".
    */
  def ensure(
      spark: SparkSession,
      sfDir: String,
      tables: Int = 32,
      bits: Int = 0,
      numBuckets: Int = 0): String = {
    val srcSig = graft.Tables.fixtureSig(spark, s"$sfDir/embeddings.parquet")
    def auto(n: Int) = if (n > 0) n.toString else "auto"
    val key = cacheKey(
      s"$sfDir:$srcSig:$tables:${auto(bits)}:${auto(numBuckets)}:v$LayoutVersion")
    val dir = new File(sys.props("java.io.tmpdir"), s"graft-lsh-index-$key")
    if (!new File(dir, "postings/_SUCCESS").exists()) {
      val emb = Tables.embeddings(spark, sfDir)
      val useBits = if (bits > 0) bits else Lsh.deriveBits(Tables.embeddingsCount(spark, sfDir))
      val model = Lsh.fit(emb, tables, useBits)
      build(spark, emb, model, dir.getAbsolutePath, numBuckets)
    }
    dir.getAbsolutePath
  }

  /** Incremental ingest (the reference's online `_aknn_index` lifecycle,
    * SURVEY §3.2): hash NEW vectors with the STORED model and append them to
    * the existing layout. The postings append is a dynamic-partition write —
    * only the pkey directories the new rows hash into receive a file; the
    * rest of the index is untouched. Readers see the same lossless pruning
    * invariant (pkey is a pure function of (tbl, hash), regardless of which
    * batch wrote the row), so search-after-append ≡ search over a full
    * rebuild — asserted in LshSpec.
    *
    * Scale notes: each append costs one narrow hash map + one |batch|-sized
    * shuffle; the corpus-sized build shuffle is never repaid. Many small
    * appends accumulate small files — [[compact]] is the periodic remedy.
    */
  def append(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit = {
    val (model, numBuckets) = Lsh.loadModel(spark, s"$indexDir/model")
    // The supersede probe covers BOTH data dirs (column-pruned to
    // vec_id+batch): a mid-append crash leaves orphan postings with no
    // vectors row, and a vectors-only probe would never mark them dead.
    // Probing postings too makes a REPLAY of the same ids (the
    // liveAppendSink retry path) heal the orphans — the replay's generation
    // supersedes them in every live view, and vacuum then drops them.
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("postings" -> Seq(PKeyCol), "vectors" -> Nil),
      stored = vectors(spark, indexDir).select(col("vec_id"), col(BatchCol))
        .unionByName(postings(spark, indexDir).select(col("vec_id"), col(BatchCol)))) { batch =>
      // Pinned: both writes consume the hashed batch, and the crash-safety
      // ordering below (postings BEFORE vectors) rules out the build()'s
      // read-back trick — unpinned, the hash projection would run twice
      // over the arriving vectors. |batch|-sized, released after the writes.
      val hashed = Materialize.stable(
        Lsh.withHashes(spark, newVectors, model)
          .select(col("vec_id"), col("embedding"), col("hashes"), lit(batch).as(BatchCol)),
        eager = true)
      // Postings first: a crash between the two jobs then leaves orphan
      // postings. Orphans can still win k1 candidate slots (the vectors
      // inner-join drops them only at re-rank) until a replay of the same
      // ids supersedes them (above) or a rebuild; no wrong row is ever
      // RETURNED either way, whereas the reverse order would leave vectors
      // that silently never match any search.
      try {
        withPKey(explodeWithBatch(hashed), numBuckets)
          .repartition(col(PKeyCol))
          .write.mode(SaveMode.Append)
          .partitionBy(PKeyCol)
          .parquet(s"$indexDir/postings")
        hashed.write.mode(SaveMode.Append).parquet(s"$indexDir/vectors")
      } finally Materialize.release(hashed)
    }
  }

  /** Delete-by-id as tombstones — shared protocol, see [[Lifecycle.delete]];
    * [[liveVectors]] / [[livePostings]] anti-join them out.
    */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  def liveVectors(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, vectors(spark, indexDir))

  def livePostings(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, postings(spark, indexDir))

  /** Rewrite `postings/` so every pkey directory holds one file again (the
    * small-file debt of repeated [[append]]s). Contents are unchanged —
    * byte-identical row set, asserted in LshSpec.
    *
    * Swap protocol: [[Lifecycle.promoteSwap]] — write to
    * `postings_compacting`, then two renames (live→old, compacting→live).
    * The window between them is not atomic on a generic filesystem —
    * compact is a single-writer MAINTENANCE op, run it without concurrent
    * readers (a table format with atomic commits — Delta/Iceberg — is the
    * production answer). A crashed run's leftovers are settled on the next
    * call ([[Lifecycle.settleSwap]], [[Lifecycle.clearSwapStaging]]), so a
    * crashed compact never wedges the index.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    // Hadoop FS throughout (same reason as the tombstone check): indexDir
    // may be an hdfs:// URI, where java.io.File renames/exists silently
    // operate on a bogus local path.
    val fs = Lifecycle.fsOf(spark, indexDir)
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
    val old = new org.apache.hadoop.fs.Path(s"$indexDir/postings_old")
    val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/postings_compacting")
    Lifecycle.settleSwap(fs, live, old)
    Lifecycle.clearSwapStaging(fs, old, tmp)
    postings(spark, indexDir)
      .select(col("vec_id"), col(BatchCol), col("tbl"), col("hash"), col(PKeyCol))
      .repartition(col(PKeyCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(PKeyCol)
      .parquet(tmp.toString)
    Lifecycle.promoteSwap(fs, live, old, tmp)
  }

  /** Purging compaction: rewrite `vectors/` + `postings/` keeping only live
    * rows and retire the tombstone/supersede markers, returning searches to
    * the plain-scan plans of a fresh build. [[compact]] settles small-file
    * debt; vacuum settles LIFECYCLE debt. Shared protocol + crash contract:
    * [[Lifecycle.vacuum]].
    */
  def vacuum(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir,
      Seq("vectors" -> Nil, "postings" -> Seq(PKeyCol)))

  def vectors(spark: SparkSession, indexDir: String): DataFrame =
    graft.Readers.parquet(spark, s"$indexDir/vectors")

  def postings(spark: SparkSession, indexDir: String): DataFrame =
    graft.Readers.parquet(spark, s"$indexDir/postings")

  /** Doc-GET-by-id over the stored vectors (SURVEY §2.B scan row): a plain
    * filter the parquet source serves via min/max row-group stats.
    */
  def lookup(index: DataFrame, id: Long): DataFrame =
    index.filter(col("vec_id") === id)

  /** Cheap integrity probe for the one degradation replay cannot heal by
    * itself: ORPHAN postings from an append that crashed between the
    * postings write and the vectors write, whose ids are never re-ingested.
    * Such rows win k1 candidate slots forever (the vectors join drops them
    * only at re-rank), silently costing recall until a rebuild — this probe
    * makes the condition DETECTABLE instead of discovered via recall drift.
    *
    * Returns one row per append generation holding live postings whose
    * vec_id has no live vectors row — empty ⇔ healthy. `batch >= 0` scopes
    * the scan to one suspect generation (pushed predicate on the batch
    * column; the usual call after a crashed append). Cost: both scans are
    * column-pruned to ids+batch (never an embedding), and the anti-join
    * shuffles 16-byte rows — OK to run on a schedule next to
    * [[vacuum]]. Remedy on hits: re-ingest the ids (replay heals them via
    * supersede markers) or rebuild; vacuum alone keeps marker-live orphans.
    */
  def integrityReport(spark: SparkSession, indexDir: String, batch: Long = -1L): DataFrame = {
    val posts = Lifecycle.liveKeepBatch(spark, indexDir, postings(spark, indexDir))
      .select(col("vec_id"), col(BatchCol))
    val scoped = if (batch >= 0L) posts.filter(col(BatchCol) === batch) else posts
    scoped
      .join(liveVectors(spark, indexDir).select(col("vec_id")), Seq("vec_id"), "left_anti")
      .groupBy(col(BatchCol))
      .agg(
        countDistinct(col("vec_id")).as("n_orphan_ids"),
        count(lit(1)).as("n_orphan_postings"))
      .orderBy(col(BatchCol))
  }
}

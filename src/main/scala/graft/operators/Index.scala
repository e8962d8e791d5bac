package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *   - `postings/` (tbl, hash, batch, ids) partitioned by `pkey` — the
  *                 inverted index, one POSTING LIST (`ids` sorted) per hash
  *                 key and append batch, files sorted by (tbl, hash): a probe
  *                 reads one row per probed key, as ES one list per term.
  *                 `pkey = (tbl·p + hash) mod numBuckets` (p prime) is a pure
  *                 function of (tbl, hash), so reading only the probe pkeys'
  *                 directories is a LOSSLESS prune — the analog of ES touching
  *                 only the term dictionary entries the query names.
  *
  * `numBuckets` is the TOTAL partition-directory count — the pruning
  * granularity. 0 (the default) derives it at build time ([[deriveBuckets]]):
  * the engine's one width, [[Skew.shufflePartitions]], raised only when a
  * directory's posting lists would outgrow one scan split
  * (`spark.sql.files.maxPartitionBytes`), so a probed directory is one read
  * task however large the corpus grows; every extra directory is one more
  * file to write and to open per probe. An explicit `numBuckets > 0` is
  * honored. The count is persisted in the
  * model doc, so readers, append, compact, vacuum and the streaming sink
  * take it from there, never from this rule.
  *
  * Scale notes (100 TB): hashing is a narrow map; the one shuffle is the
  * pkey clustering at build time, paid once so every search reads |probe
  * keys| directories instead of the corpus (a catalog table would
  * `bucketBy`; plain `partitionBy` keeps it filesystem-only).
  */
object Index {

  val PKeyCol = "pkey"
  private val Mix = 1000003L // prime multiplier spreading tables across buckets

  /** Bump when the on-disk layout or its producing semantics change — keys
    * the build-once tmp caches so a stale layout from an older build can
    * never serve a newer reader.
    */
  val LayoutVersion = 8 // v8: index postings are posting-list rows (tbl, hash, batch, ids) (v7: per-CONSUMER artifact layouts — point-probe members id-range-sorted, pair postings bucket-aggregated to sorted arrays)

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

  /** Width of a posting list: 8 bytes per id, plus tbl and the array
    * length (4 each), hash and batch (8 each).
    */
  private val IdBytes = 8L
  private val ListHeaderBytes = 24L

  /** The derived postings directory count for `vectors` vectors hashed into
    * `tables` tables of `bits` bits (min(vectors, 2^bits) lists a table).
    */
  def deriveBuckets(spark: SparkSession, vectors: Long, tables: Int, bits: Int): Int = {
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val lists = tables * math.min(vectors.toDouble, math.pow(2, bits))
    val dirs = math.ceil((vectors.toDouble * tables * IdBytes + lists * ListHeaderBytes) / split)
    math.max(Skew.shufflePartitions(spark), math.min(dirs, Int.MaxValue.toDouble).toInt)
  }

  private def explodeWithBatch(hashed: DataFrame): DataFrame =
    hashed.select(col("vec_id"), col(BatchCol),
      posexplode(col("hashes")).as(Seq("tbl", "hash")))

  /** One posting list per group of `keys`: the group's vec_ids as a sorted
    * `ids` array, from posting rows (`vec_id`) or from list rows (`ids`,
    * merged without exploding them) — the one list builder of the index
    * postings and the q63 pair artifact ([[Vectors.ensurePairPostings]]).
    */
  def postingLists(posts: DataFrame, keys: Column*): DataFrame =
    posts.groupBy(keys: _*).agg(sort_array(
      if (posts.columns.contains("ids")) flatten(collect_list(col("ids"))) else collect_list(col("vec_id"))).as("ids"))

  /** Posting or list rows with (batch, tbl, hash) written as list rows
    * under their pkey directories, one file each: the aggregate reuses the
    * pkey exchange, and a local sort orders each file by (tbl, hash).
    */
  private def writeLists(rows: DataFrame, numBuckets: Int, mode: SaveMode, path: String): Unit =
    postingLists(withPKey(rows, numBuckets).repartition(col(PKeyCol)),
        col(PKeyCol), col("tbl"), col("hash"), col(BatchCol))
      .sortWithinPartitions(PKeyCol, "tbl", "hash")
      .write.mode(mode).partitionBy(PKeyCol).parquet(path)

  /** Posting lists as one row per posting: (vec_id, batch, tbl, hash, pkey)
    * — what the live view, the integrity reports, the append's supersede
    * probe and [[vacuum]] read.
    */
  def postingRows(lists: DataFrame): DataFrame =
    lists.select(explode(col("ids")).as("vec_id"), col(BatchCol), col("tbl"), col("hash"), col(PKeyCol))

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
    // ID-CLUSTERED stored source: each file and row group holds a narrow id
    // range, so a search's GET and k1 fetch (Knn.Fetch) run only the scan
    // partitions whose footer vec_id [min, max] holds a wanted id (a pushed
    // `In` of more than inFilterThreshold ids reaches parquet as one
    // min..max range, which prunes nothing). The un-numbered range shuffle
    // lets AQE size the files to the data.
    hashed.repartitionByRange(col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/vectors")
    // Postings from the vectors JUST WRITTEN: a columnar read of the stored
    // hashes, where reusing `hashed` would hash the corpus a second time
    // (the build's dominant compute at 1024-d).
    val stored = spark.read.parquet(s"$outDir/vectors")
      .select(col("vec_id"), col(BatchCol), col("hashes"))
    // numBuckets = 0: derive from the vectors just written (a footer count)
    val buckets =
      if (numBuckets > 0) numBuckets else deriveBuckets(spark, stored.count(), model.tables, model.bits)
    Lsh.saveModel(spark, model, buckets, s"$outDir/model")
    writeLists(explodeWithBatch(stored), buckets, SaveMode.Overwrite, s"$outDir/postings")
    // resetMarkers bumped BEFORE the writes, and a load racing them could
    // memoize pre-rebuild state under the new epoch: bump again.
    graft.Readers.bump()
  }

  /** Build-once cache for the gate queries: the index for (sfDir, params)
    * lives in the JVM temp dir, keyed by the embeddings fixture's mtime so a
    * regenerated fixture invalidates it. Returns the index directory.
    *
    * `bits = 0` and `numBuckets = 0` (the defaults) derive the hash width
    * ([[Lsh.deriveBits]], one cheap `count()`) and the directory count
    * ([[deriveBuckets]]) at BUILD time, keying the cache "auto"; readers
    * always take both from the persisted model.
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
    * the existing layout. The postings append is a dynamic-partition write
    * of the batch's own lists — only the pkey directories they hash into
    * receive a file — so search-after-append ≡ search over a full rebuild
    * (asserted in LshSpec).
    *
    * Scale notes: each append costs one narrow hash map + one |batch|-sized
    * shuffle; the corpus-sized build shuffle is never repaid. Many small
    * appends accumulate small files — [[compact]] is the periodic remedy.
    */
  def append(spark: SparkSession, indexDir: String, newVectors: DataFrame): Unit = {
    val (model, numBuckets) = Lsh.loadModel(spark, s"$indexDir/model")
    // The supersede probe covers BOTH data dirs: a mid-append crash leaves
    // orphan postings with no vectors row, which a REPLAY of the same ids
    // (the liveAppendSink retry path) then supersedes; vacuum drops them.
    Lifecycle.appendWith(spark, indexDir, newVectors,
      adoptParts = Seq("postings" -> Seq(PKeyCol), "vectors" -> Nil),
      stored = vectors(spark, indexDir).select(col("vec_id"), col(BatchCol))
        .unionByName(postingRows(postings(spark, indexDir)).select(col("vec_id"), col(BatchCol)))) { batch =>
      // Pinned (|batch|-sized): both writes consume the hashed batch, and
      // the ordering below rules out build()'s read-back trick.
      val hashed = Materialize.stable(
        Lsh.withHashes(spark, newVectors, model)
          .select(col("vec_id"), col("embedding"), col("hashes"), lit(batch).as(BatchCol)),
        eager = true)
      // Postings first: a crash between the jobs leaves orphan postings,
      // which may win k1 slots but are never RETURNED (the re-rank joins
      // the vectors), where the reverse order would leave unmatchable vectors.
      try {
        writeLists(explodeWithBatch(hashed), numBuckets, SaveMode.Append, s"$indexDir/postings")
        hashed.write.mode(SaveMode.Append).parquet(s"$indexDir/vectors")
      } finally Materialize.release(hashed)
    }
  }

  /** Delete-by-id as tombstones — shared protocol, see [[Lifecycle.delete]];
    * [[liveVectors]] / [[livePostings]] filter them out.
    */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit =
    Lifecycle.delete(spark, indexDir, ids)

  def liveVectors(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, vectors(spark, indexDir))

  def livePostings(spark: SparkSession, indexDir: String): DataFrame =
    Lifecycle.live(spark, indexDir, postingRows(postings(spark, indexDir)))

  /** Rewrite `postings/` so every pkey directory holds one file again (the
    * small-file debt of repeated [[append]]s), each (tbl, hash, batch) one
    * list. Contents are unchanged — an identical set of postings, asserted
    * in LshSpec.
    *
    * Swap protocol: [[Lifecycle.promoteSwap]] (write to
    * `postings_compacting`, then two renames) — a single-writer MAINTENANCE
    * op, run without concurrent readers (atomic commits, as Delta/Iceberg
    * give, are the production answer); the next call settles a crashed
    * run's leftovers, so a crashed compact never wedges the index.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    // Hadoop FS throughout: indexDir may be an hdfs:// URI
    val fs = Lifecycle.fsOf(spark, indexDir)
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
    val old = new org.apache.hadoop.fs.Path(s"$indexDir/postings_old")
    val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/postings_compacting")
    Lifecycle.settleSwap(fs, live, old)
    Lifecycle.clearSwapStaging(fs, old, tmp)
    writeLists(postings(spark, indexDir),
      Lsh.loadModel(spark, s"$indexDir/model")._2, SaveMode.Overwrite, tmp.toString)
    Lifecycle.promoteSwap(fs, live, old, tmp)
  }

  /** Purging compaction: rewrite `vectors/` + `postings/` keeping only live
    * rows and retire the tombstone/supersede markers, returning searches to
    * the plain-scan plans of a fresh build. [[compact]] settles small-file
    * debt; vacuum settles LIFECYCLE debt. Shared protocol + crash contract:
    * [[Lifecycle.vacuum]]; the live lists are the live postings regrouped.
    */
  def vacuum(spark: SparkSession, indexDir: String): Unit =
    Lifecycle.vacuum(spark, indexDir, Seq("vectors" -> Nil, "postings" -> Seq(PKeyCol)),
      rewrite = Map("postings" -> (tmp => writeLists(
        Lifecycle.liveKeepBatch(spark, indexDir, postingRows(spark.read.parquet(s"$indexDir/postings"))),
        Lsh.loadModel(spark, s"$indexDir/model")._2, SaveMode.Overwrite, tmp))))

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
    * Such rows win k1 candidate slots forever, silently costing recall
    * until a rebuild — this probe makes the condition DETECTABLE.
    *
    * Returns one row per append generation holding live postings whose
    * vec_id has no live vectors row — empty ⇔ healthy; the postings count
    * (id, key) pairs, the lists exploded. `batch >= 0` scopes the scan to
    * one suspect generation (a pushed predicate). Both scans read ids and
    * batch only, never an embedding. Remedy on hits: re-ingest the ids
    * (replay supersedes them) or rebuild; vacuum alone keeps them.
    */
  def integrityReport(spark: SparkSession, indexDir: String, batch: Long = -1L): DataFrame = {
    val posts = Lifecycle.liveKeepBatch(spark, indexDir, postingRows(postings(spark, indexDir)))
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

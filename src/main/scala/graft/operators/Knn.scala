package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.Tables
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{HoldsScan, PlanBridge, PreparedScan, VectorExpressions}

/** Two-phase approximate kNN — the reference's flagship search
  * (SURVEY.md §2.A A5–A7, `[PUBREPO AknnRestAction.handleSearchRequest,
  * conf=HIGH]`):
  *
  * Phase 1 (candidates): score every indexed vector by the number of hash
  * tables in which it collides with the query ("collision count" — ES scores
  * a bool-should of term clauses); keep top-k1 per query.
  * Phase 2 (re-rank): exact Euclidean distance on the k1 candidates, keep
  * top-k2. Self-matches are EXCLUDED (documented contract choice, SURVEY A7).
  *
  * Spark shape (indexed search, [[searchIndex]] / [[searchIndexByVector]]),
  * the reference's coordinating node (SURVEY §3.3 steps 3–4). Each layout
  * part a search reads is a PREPARED SCAN
  * ([[org.apache.spark.sql.graft.PreparedScan]]): the posting lists as
  * (key, batch, ids) ([[Probe]]) and the live vectors as (vec_id,
  * embedding) ([[Fetch]]), each analyzed, optimized and planned once per
  * layout epoch ([[graft.Readers.prepared]]), its decoded rows kept in
  * executor memory as RESIDENT BLOCKS for that epoch: one block per probed
  * pkey directory, one per vectors scan partition. A search is two jobs
  * that re-run them, neither with an exchange (KnnJobsSpec): the probe
  * reads the blocks of the probed pkey directories and collects the live
  * (key, vec_id) pairs of the probed keys' lists, one row per key and
  * batch, and the driver counts collisions per query and cuts top-k1; then
  * [[rerank]], the one exact re-rank tail the quantized
  * searches in [[Pq]] share, runs the fetch on the blocks whose vec_id
  * range holds a candidate, scores the candidates on the executors and
  * collects the at most |Q|·k1 rescored rows, and the driver cuts top-k2.
  * Only the first search of an epoch decodes the parquet of the blocks it
  * reads; later ones read the decoded rows.
  * Both read the live view through the one memoized load of the marker
  * sets ([[Lifecycle.liveness]]): the probe's tasks call it on each listed id,
  * the GET's and fetch's scan filters by it, so a delete or re-ingest adds
  * no join.
  * The query side — a few hundred bytes of driver data: the probe keys,
  * the candidate ids, the query vectors — rides each job's task closure,
  * never a plan, so a search compiles no plan and renders no literal. The
  * jobs run under the descriptions `Knn.get`, `Knn.probe` and `Knn.fetch`.
  * The searches run them when called and return the ranked rows as a
  * ready local relation, `dist4` already rounded on the driver
  * ([[Det.displayValue]]): no projection to plan, no job in its action.
  * The quantized and indexed IVF searches scan the same way ([[nearest]]).
  * This is the collision-counting LSH similarity join (PAPERS.md C2Net),
  * with the counting step on the bounded set of probed postings, so it
  * needs no shuffle.
  *
  * Scale notes (100 TB): the probe reads only the probed pkey
  * directories and is executor-parallel; no cross product anywhere, and no
  * embedding is ever shuffled or collected (the fetch returns distances).
  * A resident block is at most one scan split ([[Index.deriveBuckets]]
  * sizes each pkey directory to one), held `MEMORY_ONLY`: a block the
  * executors cannot keep is evicted and recomputed from its files on its
  * next read, so memory bounds the speed of a search, never its answer.
  * The driver holds at most the probed lists' (key, vec_id) pairs —
  * E[bucket] is held near the target by [[Lsh.deriveBits]], and
  * [[Lsh.autoBucketCap]] caps it past the width ceiling — plus at most
  * |Q|·k1 rescored rows; |Q| is point-lookup sized by contract, as the
  * driver-side query GET already assumes. Skewed buckets (a hash value
  * holding a large fraction of rows) are the known risk; the bucket cap or
  * salting the heavy hashes (SURVEY §7) is the mitigation.
  */
object Knn {

  /** Full two-phase search for all query ids < queryMaxId.
    * Output: (query_id, neighbor_id, rank, collisions, dist4).
    *
    * Default: tables=32 with bits DERIVED from the corpus count
    * ([[Lsh.deriveBits]] — resolves to 3 at the gate fixtures' 500–2000
    * random 64-d vectors, growing as log2(N) so buckets stay bounded at any
    * scale). At the fixtures: recall@10 = 0.71 vs exact kNN at k1=100,
    * measured by tools/RecallSweep. Random vectors are a worst case for
    * LSH — real embedding corpora cluster and recall rises sharply. An
    * explicit `bits > 0` overrides; tables trades index size for recall.
    */
  def lshTopK(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      tables: Int = 32,
      bits: Int = 0,
      multiprobe: Boolean = false): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    // bits = 0: derive from the corpus count, mirroring Index.ensure so the
    // inline and indexed paths stay row-identical under the shared default.
    // The count is memoized per fixture — not a job per invocation.
    val useBits = if (bits > 0) bits else Lsh.deriveBits(Tables.embeddingsCount(spark, sfDir))
    val model = Lsh.fit(emb, tables, useBits)
    val hashed = Lsh.withHashes(spark, emb, model)
    val queries = hashed.filter(col("vec_id") < queryMaxId)
    lshSearch(spark, hashed, queries, k1, k2,
      probeBits = if (multiprobe) useBits else 0)
  }

  /** The real search lifecycle (SURVEY §3.3, A3→A7): search a PERSISTED
    * index instead of refitting the model and re-hashing the corpus per
    * query. [[Index.ensure]] builds the three-part layout once per
    * (fixture, params); every search after that:
    *
    *   1. GETs the stored query docs' vectors (the `vectors/` partitions
    *      whose id range holds a query id, tiny driver collect) and hashes
    *      them with the stored model — the analog of ES fetching
    *      `_aknn_hashes` of the query doc;
    *   2. probes the files of `postings/` under the probe pkeys'
    *      directories — a lossless prune (pkey is a function of the join
    *      key), so the collision scan reads |probe| directories, not the
    *      corpus;
    *   3. collision-counts + re-ranks exactly as [[lshSearch]].
    *
    * Results are identical to [[lshTopK]] (same deterministic fit, same
    * search semantics) — asserted by LshSpec.
    *
    * When the derived width saturates ([[Lsh.bitsSaturated]] — the corpus
    * outgrew the 2^16 bucket space and E[bucket] grows linearly again), the
    * bucket cap engages AUTOMATICALLY: past the ceiling an uncapped
    * collision join re-enters unbounded fan-out, so the default flips from
    * "exact posting lists" to "bounded posting lists, measured recall cost".
    * Gate fixtures sit far below the ceiling → cap 0, rows unchanged.
    */
  def lshTopKIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      tables: Int = 32,
      bits: Int = 0,
      multiprobe: Boolean = false): DataFrame = {
    val indexDir = Index.ensure(spark, sfDir, tables, bits)
    val autoCap =
      if (bits > 0) 0 // explicit width: the operator owns the tradeoff
      else Lsh.autoBucketCap(Tables.embeddingsCount(spark, sfDir))
    searchIndex(spark, indexDir, queryMaxId, k1, k2, multiprobe, bucketCap = autoCap)
  }

  /** q120 — FILTERED search against the persisted index (the indexed twin
    * of [[KnnExact.topKFiltered]], A5–A7 composed with a metadata
    * predicate). The index layout stores no attributes beyond the vector,
    * so the label predicate is a METADATA LOOKUP: one collect of the
    * allowed ids among the probed ones, a pushed vec_id filter on the
    * (vec_id, label) projection of the source table, and disallowed
    * candidates drop in the collision count, BEFORE the k1 cut — k1 slots
    * only ever hold servable candidates (pure post-filtering of a k2 list
    * under-fills; pre-filtering the postings scan would need label-aware
    * partitioning). At 100 TB the lookup is a 2-column columnar scan
    * bounded by the probed ids. Rows-only gate; pinned by the LshSpec
    * filtered-recall + label-soundness spec.
    */
  def lshTopKFilteredIndexed(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k1: Int = 100,
      k2: Int = 10,
      labels: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val indexDir = Index.ensure(spark, sfDir)
    val autoCap = Lsh.autoBucketCap(Tables.embeddingsCount(spark, sfDir))
    val meta = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"))
      .filter(col("label").isin(labels.map(Integer.valueOf): _*))
    searchIndex(spark, indexDir, queryMaxId, k1, k2,
      bucketCap = autoCap, candidateFilter = Some(meta.select(col("vec_id"))))
  }

  /** Has this layout ever been batch-appended to (`appends/` markers)? A
    * fresh build or an exactly-once streamed bootstrap has none, and so no
    * duplicate copy of any (tbl, hash, vec_id) posting. One fs stat.
    */
  private def everAppended(spark: SparkSession, indexDir: String): Boolean =
    Lifecycle.fsOf(spark, indexDir)
      .exists(new org.apache.hadoop.fs.Path(s"$indexDir/appends"))

  /** The (query_id, tbl, hash) probe set for one query's packed hashes —
    * shared by the stored-id path (precomputed hashes) and the raw-vector
    * path (driver-hashed). Multiprobe expands Hamming-1 flips query-side.
    */
  private def probesOf(
      qid: Long,
      hashes: Seq[Long],
      model: Lsh.LshModel,
      multiprobe: Boolean): Seq[(Long, Int, Long)] =
    hashes.zipWithIndex.flatMap { case (h, t) =>
      val exact = Seq((qid, t, h))
      if (multiprobe) exact ++ (0 until model.bits).map(b => (qid, t, h ^ (1L << b)))
      else exact
    }

  /** Raw-vector search against the persisted index (ES `knn.query_vector`):
    * the same A5→A6 pipeline as [[searchIndex]] for a query vector that is
    * NOT a stored document — the vector is hashed driver-side with the
    * index's own cached model (one O(tables·bits·dim) hash, the ingest
    * path's arithmetic exactly), so probes hit the identical buckets a
    * stored twin's precomputed hashes would. `excludeIds` is the ES
    * exclude-filter knob (drop known ids — e.g. the query's own document —
    * before the k1 cut so every slot is servable). Output rows carry
    * `query_id = -1`.
    *
    * Runs its two Spark jobs, the postings probe and the candidate fetch,
    * when called, and returns a local frame whose action runs none: the
    * query side is driver arithmetic carried in the jobs' tasks (see
    * [[search]]).
    *
    * Parity contract (spec-pinned): for a vector that IS stored, searching
    * by value with its id excluded returns exactly [[searchIndex]]'s
    * results for that id — same buckets, same collision counts, same
    * re-rank.
    */
  def searchIndexByVector(
      spark: SparkSession,
      indexDir: String,
      query: Array[Float],
      k1: Int,
      k2: Int,
      multiprobe: Boolean = false,
      bucketCap: Int = 0,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val (model, _) = Lsh.loadModel(spark, s"$indexDir/model")
    val excluded = excludeIds.toArray.sorted
    search(spark, indexDir,
      probesOf(-1L, model.hashVector(query).toSeq, model, multiprobe),
      Map(-1L -> query), k1, k2, bucketCap,
      keep = (_, vec) => java.util.Arrays.binarySearch(excluded, vec) < 0,
      candidateFilter = None)
  }

  /** A5–A7 against a persisted [[Index]] layout, for every stored query id
    * below `queryMaxId`: one GET of the query docs' vectors (the one job
    * this call runs before the probe, |Q|-small by contract), hashed on the
    * driver with the index's model — the arithmetic that wrote their
    * postings, as [[searchIndexByVector]]'s parity contract pins — then
    * [[search]]. Self-matches are excluded.
    *
    * `bucketCap` (0 = off, the gate default) bounds the posting-list length
    * per (tbl, hash) to its `bucketCap` smallest ids — the 100 TB control
    * for degenerate buckets (a hash value holding a large fraction of the
    * corpus would otherwise dominate the probe's output). Capping trades a
    * measured recall loss on exactly those low-signal buckets for a hard
    * bound on the probed postings the driver counts. `candidateFilter`
    * keeps only the vec_ids it holds, before the collision count and the
    * k1 cut (see [[lshTopKFilteredIndexed]]).
    */
  def searchIndex(
      spark: SparkSession,
      indexDir: String,
      queryMaxId: Long,
      k1: Int,
      k2: Int,
      multiprobe: Boolean = false,
      bucketCap: Int = 0,
      candidateFilter: Option[DataFrame] = None): DataFrame = {
    val (model, _) = Lsh.loadModel(spark, s"$indexDir/model")
    val queries = indexFetch(spark, indexDir).get(queryMaxId)
    search(spark, indexDir,
      queries.flatMap { case (q, v) => probesOf(q, model.hashVector(v).toSeq, model, multiprobe) },
      queries.toMap, k1, k2, bucketCap, keep = _ != _, candidateFilter)
  }

  /** A prepared scan of a layout partitioned into `column=value`
    * directories: the postings by pkey, the IVF layouts by cell. Each of
    * its blocks holds one directory's files.
    */
  private[operators] final class DirScan(val scan: PreparedScan) extends HoldsScan {
    private val dirs = scan.blocks.map(_.files.head.toPath.getParent.getName)

    /** The blocks under a `probed` directory (a lossless prune, at the job). */
    def parts(probed: Set[String]): Seq[Int] = dirs.indices.filter(i => probed(dirs(i)))
  }

  /** A layout's postings as a search probes them: the posting lists as
    * (key, batch, ids), the key packed as tbl·2^bits + hash; the layout's
    * live view as a predicate ([[Lifecycle.liveness]], the memo every
    * reader of the layout shares), None without markers; and whether it can
    * hold duplicate copies ([[everAppended]]). Prepared once per layout
    * epoch ([[graft.Readers.prepared]]).
    */
  private final class Probe(
      val lists: DirScan, val live: Option[Lifecycle.Liveness], val appended: Boolean)
      extends HoldsScan {
    def scan: PreparedScan = lists.scan
  }

  private def probeOf(spark: SparkSession, indexDir: String, bits: Int): Probe =
    graft.Readers.prepared(spark, Seq(indexDir, s"$indexDir/postings"), s"probe:$bits") {
      new Probe(new DirScan(PlanBridge.prepare(Index.postings(spark, indexDir).select(
          shiftleft(col("tbl").cast("long"), bits).bitwiseOR(col("hash")).as("key"),
          col(Index.BatchCol), col("ids")))),
        Lifecycle.liveness(spark, indexDir), everAppended(spark, indexDir))
    }

  /** A vector table as the fetch and the stored-id GET read it: (vec_id,
    * embedding), with each block's vec_id [min, max] from the parquet
    * footers of the row groups it reads; a block is one scan partition.
    * Prepared once per layout epoch. The range is what selects a fetch's
    * blocks: a pushed `In` of more than
    * `spark.sql.parquet.pushdown.inFilterThreshold` ids reaches parquet
    * only as one min..max range, which k1 ids spread over the corpus never
    * let prune.
    */
  private[operators] final class Fetch(val scan: PreparedScan, ranges: IndexedSeq[(Long, Long)])
      extends HoldsScan {

    /** The blocks whose range holds one of the sorted `ids`. */
    def parts(ids: Array[Long]): Seq[Int] =
      ranges.indices.filter { b =>
        val at = java.util.Arrays.binarySearch(ids, ranges(b)._1)
        val first = if (at >= 0) at else -at - 1
        first < ids.length && ids(first) <= ranges(b)._2
      }

    /** The GET: (vec_id, vector) of every row with vec_id < `below`. */
    def get(below: Long): Seq[(Long, Array[Float])] = {
      val holding = ranges.indices.filter { b => val (lo, hi) = ranges(b); lo <= hi && lo < below }
      scan.run("Knn.get", holding) { rows =>
        val out = mutable.ArrayBuffer.empty[(Long, Array[Float])]
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) < below)
            out += r.getLong(0) -> r.getArray(1).toFloatArray()
        }
        out.toArray
      }.flatten
    }
  }

  /** The live `vectors` of an index layout, prepared for the fetch. */
  private def indexFetch(spark: SparkSession, indexDir: String): Fetch =
    fetchOf(spark, Seq(indexDir, s"$indexDir/vectors"),
      Lifecycle.liveKeepBatch(spark, indexDir, Index.vectors(spark, indexDir)))

  /** The fixture's embeddings, prepared for the quantized searches' fetch. */
  private[operators] def fixtureFetch(spark: SparkSession, sfDir: String): Fetch =
    fetchOf(spark, Seq(s"$sfDir/embeddings.parquet"), Tables.embeddings(spark, sfDir))

  private def fetchOf(spark: SparkSession, dirs: Seq[String], vectors: => DataFrame): Fetch =
    graft.Readers.prepared(spark, dirs, "fetch") {
      val scan = PlanBridge.prepare(vectors.select(col("vec_id"), col("embedding")))
      new Fetch(scan, scan.longRanges("vec_id"))
    }

  /** The search core both indexed entry points share, shaped like the
    * reference's coordinating node (SURVEY §3.3 steps 3–4): the probe job
    * collects the probed postings' (key, vec_id) pairs, the driver counts
    * collisions (A5) and cuts top-k1, and [[rerank]] fetches and rescores
    * the k1 candidates (A6) and cuts top-k2 — the two-job shape in the
    * [[Knn]] scaladoc. `probes` are (query_id, tbl, hash), multiprobe flips
    * included; `keep` is the exclusion predicate over (query_id, vec_id),
    * applied before the count. The probe's tasks emit the live ids of each
    * probed list (with a cap, each key's `bucketCap` smallest distinct live
    * ids, which the driver cuts again). A `candidateFilter` is one
    * collect of the allowed ids among the probed ones, applied in the
    * count. Only an appended layout can hold duplicate copies (a batch
    * holding an id twice), and only there are they collapsed, on the
    * driver: the probed pairs before the count, and the rescored rows.
    */
  private def search(
      spark: SparkSession,
      indexDir: String,
      probes: Seq[(Long, Int, Long)],
      queryVecs: Map[Long, Array[Float]],
      k1: Int,
      k2: Int,
      bucketCap: Int,
      keep: (Long, Long) => Boolean,
      candidateFilter: Option[DataFrame]): DataFrame = {
    val (model, numBuckets) = Lsh.loadModel(spark, s"$indexDir/model")
    // (tbl, hash) packs exactly as tbl·2^bits + hash (hash < 2^bits) only
    // while every table index fits above the hash bits.
    require(model.bits < 64 && model.tables - 1L <= (Long.MaxValue >> model.bits),
      s"${model.tables} tables of ${model.bits} bits exceed the 63-bit probe key")
    val queriesByKey = mutable.LongMap.from(probes.distinct
      .groupMap { case (_, t, h) => (t.toLong << model.bits) | h }(_._1)
      .view.mapValues(_.toArray))
    val probe = probeOf(spark, indexDir, model.bits)
    val (live, appended) = (probe.live, probe.appended)
    val keys = queriesByKey.keys.toArray.sorted
    val found = probe.lists.scan.run("Knn.probe", probe.lists.parts(probes.map { case (_, t, h) =>
      s"${Index.PKeyCol}=${Index.pkeyOf(t, h, numBuckets)}" }.toSet)) { rows =>
      val out = new mutable.ArrayBuilder.ofLong
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(2) && java.util.Arrays.binarySearch(keys, r.getLong(0)) >= 0) {
          val (key, batch, ids) = (r.getLong(0), r.getLong(1), r.getArray(2))
          var i = 0
          while (i < ids.numElements()) {
            if (live.forall(_(ids.getLong(i), batch))) out += key += ids.getLong(i)
            i += 1
          }
        }
      }
      if (bucketCap > 0) smallestPerKey(out.result(), bucketCap) else out.result()
    }.toArray.flatten
    // the cap cut again over every task's survivors; on an appended layout,
    // each key's distinct ids
    val pairs =
      if (bucketCap > 0 || appended)
        smallestPerKey(found, if (bucketCap > 0) bucketCap else Int.MaxValue)
      else found
    val allowed = candidateFilter.fold((_: Long) => true) { df =>
      val probed = (1 until pairs.length by 2).map(pairs).distinct
      val ids =
        if (probed.isEmpty) Array.empty[Long]
        else df.filter(PlanBridge.inSet(col("vec_id"), probed)).select(col("vec_id"))
          .collect().map(_.getLong(0)).sorted
      vec => java.util.Arrays.binarySearch(ids, vec) >= 0
    }
    // The collision count, one primitive map per query: the probed
    // postings are bounded by the probed buckets (see the [[Knn]] scaladoc)
    val counts = mutable.LongMap.from(queryVecs.keys.map(_ -> mutable.LongMap.empty[Int]))
    var p = 0
    while (p < pairs.length) {
      val queries = queriesByKey(pairs(p))
      val vec = pairs(p + 1)
      var i = 0
      while (i < queries.length) {
        if (keep(queries(i), vec) && allowed(vec)) {
          val c = counts(queries(i))
          c(vec) = c.getOrElse(vec, 0) + 1
        }
        i += 1
      }
      p += 2
    }
    rerank(spark, counts.map { case (q, c) => q -> topByCollisions(c, k1) }.toMap,
      indexFetch(spark, indexDir), queryVecs, k2,
      dedupe = appended, collisions = Some((q, vec) => counts(q)(vec).toLong))
  }

  /** Each key's `cap` smallest distinct ids among (key, vec_id) pairs laid
    * out flat, as flat pairs: what a `dense_rank() <= cap` over each
    * (tbl, hash) keeps, one copy of each id.
    */
  private def smallestPerKey(pairs: Array[Long], cap: Int): Array[Long] = {
    val byKey = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    var i = 0
    while (i < pairs.length) {
      byKey.getOrElseUpdate(pairs(i), new mutable.ArrayBuilder.ofLong) += pairs(i + 1)
      i += 2
    }
    val out = new mutable.ArrayBuilder.ofLong
    byKey.foreachEntry { (key, ids) =>
      ids.result().sorted.distinct.take(cap).foreach { vec => out += key; out += vec }
    }
    out.result()
  }

  /** One query's top `k` vec_ids by (collisions desc, vec_id asc): every id
    * counted above the cut count, then the smallest ids counted at it.
    */
  private def topByCollisions(counts: mutable.LongMap[Int], k: Int): Array[Long] =
    if (counts.size <= k) counts.keys.toArray
    else {
      val byCount = new Array[Int](counts.valuesIterator.max + 1)
      counts.foreachValue(c => byCount(c) += 1)
      var cut = byCount.length - 1
      var above = 0
      while (above + byCount(cut) < k) { above += byCount(cut); cut -= 1 }
      val top = new Array[Long](k)
      val ties = new Array[Long](byCount(cut))
      var (n, t) = (0, 0)
      counts.foreachEntry { (vec, c) =>
        if (c > cut) { top(n) = vec; n += 1 }
        else if (c == cut) { ties(t) = vec; t += 1 }
      }
      java.util.Arrays.sort(ties)
      System.arraycopy(ties, 0, top, n, k - n)
      top
    }

  /** (dist, vec_id), ascending: the order of every top-k cut. */
  private val ByDist = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** The scan phase of the quantized ([[Pq]]) and indexed IVF searches,
    * shaped like the reference's shards (SURVEY §3.3): one job re-runs
    * `scan` on the blocks `parts` under the job description `description`; `score`
    * calls `emit(q, dist)` for each query index it scores a row against,
    * and each task keeps each query's `k` nearest by (dist, vec_id),
    * self-matches (column 0 is the vec_id) dropped. The driver merges them:
    * the rows a `row_number() <= k` window keeps, the order being total.
    */
  private[operators] def nearest(
      scan: PreparedScan,
      description: String,
      parts: Seq[Int],
      qids: Array[Long],
      k: Int)(
      score: (InternalRow, (Int, Double) => Unit) => Unit): Map[Long, Seq[(Double, Long)]] = {
    val perTask = scan.run(description, parts) { rows =>
      val worstFirst = ByDist.reverse
      val heaps = Array.fill(qids.length)(new java.util.PriorityQueue[(Double, Long)](worstFirst))
      var vec = 0L
      val emit: (Int, Double) => Unit = (q, dist) =>
        if (vec != qids(q)) {
          val heap = heaps(q)
          if (heap.size < k) heap.add((dist, vec))
          else if (k > 0 && worstFirst.compare((dist, vec), heap.peek) > 0) {
            heap.poll()
            heap.add((dist, vec))
          }
        }
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          vec = r.getLong(0)
          score(r, emit)
        }
      }
      heaps.map(_.toArray(new Array[(Double, Long)](0)))
    }
    qids.indices.map(q => qids(q) -> perTask.flatMap(_(q)).sorted(ByDist).take(k)).toMap
  }

  /** The exact re-rank tail (A6) of every two-phase vector search — the
    * indexed LSH core above and the seven quantized searches in [[Pq]] —
    * run the way the reference's coordinating node runs it: one fetch job
    * re-runs a prepared [[Fetch]] scan (the index's live `vectors`, or the
    * fixture embeddings for [[Pq]]) on the partitions whose vec_id range
    * holds a candidate; its tasks score each candidate row by L2 against
    * its querying vectors ([[VectorExpressions.L2Distance.of]], the plan
    * expression's exact arithmetic) and return the at most |Q|·k1 rescored
    * rows; the driver cuts top-k2 by (dist, neighbor_id) and rounds the
    * distance ([[Det.displayValue]]). The candidates and the query vectors
    * ride the task, not a plan. `k1set` maps each query to its candidate
    * ids. Output, a bare local relation sorted by (query_id, rank) whose
    * action runs no job: (query_id, neighbor_id, rank, collisions, dist4)
    * with `collisions` (LSH), else (query_id, neighbor_id, rank, dist4).
    * `dedupe` collapses duplicate vector copies, which only an appended
    * index layout can hold.
    */
  private[operators] def rerank(
      spark: SparkSession,
      k1set: Map[Long, Array[Long]],
      fetch: Fetch,
      queryVecs: Map[Long, Array[Float]],
      k2: Int,
      dedupe: Boolean,
      collisions: Option[(Long, Long) => Long] = None): DataFrame = {
    val queriesOf = k1set.toSeq
      .flatMap { case (q, vecs) => vecs.map(_ -> q) }
      .groupMap(_._1)(_._2)
    val ids = queriesOf.keys.toArray.sorted
    val qids = queriesOf.values.flatten.toArray.distinct
    val owners = ids.map(id => queriesOf(id).map(q => qids.indexOf(q)).toArray)
    val qvecs: Array[ArrayData] = qids.map(q => UnsafeArrayData.fromPrimitiveArray(queryVecs(q)))
    val rescored = fetch.scan.run("Knn.fetch", fetch.parts(ids)) { rows =>
      val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val at = java.util.Arrays.binarySearch(ids, r.getLong(0))
          if (at >= 0) {
            val emb = r.getArray(1)
            owners(at).foreach(q =>
              out += ((qids(q), ids(at), VectorExpressions.L2Distance.of(qvecs(q), emb))))
          }
        }
      }
      out.toArray
    }.flatten
    ranked(spark, rescored.groupBy(_._1).map { case (q, rows) =>
      val sorted = rows.map { case (_, vec, dist) => (dist, vec) }.sorted(ByDist)
      q -> (if (dedupe) sorted.distinctBy(_._2) else sorted).take(k2)
    }, collisions)
  }

  /** Each query's ranked (dist, neighbor_id) list as a search result: see
    * [[rerank]].
    */
  private[operators] def ranked(
      spark: SparkSession,
      lists: Map[Long, Seq[(Double, Long)]],
      collisions: Option[(Long, Long) => Long] = None): DataFrame = {
    val rows = lists.toSeq.sortBy(_._1).flatMap { case (q, list) =>
      list.zipWithIndex.map { case ((dist, vec), i) =>
        Row.fromSeq(Seq[Any](q, vec, i + 1) ++ collisions.map(_(q, vec)) :+ Det.displayValue(dist, 4))
      }
    }
    val schema = StructType(
      Seq(StructField("query_id", LongType, nullable = false),
        StructField("neighbor_id", LongType), StructField("rank", IntegerType, nullable = false)) ++
        collisions.map(_ => StructField("collisions", LongType, nullable = false)) :+
        StructField("dist4", DoubleType))
    graft.Plans.resultFrame(spark, rows, schema)
  }

  /** A7: search by stored id — the query side is a filter on the indexed
    * table itself (precomputed hashes, no re-hash), then A5→A6.
    */
  def lshSearch(
      spark: SparkSession,
      hashed: DataFrame,
      queries: DataFrame,
      k1: Int,
      k2: Int,
      probeBits: Int = 0): DataFrame = {
    // Posting lists: (id, tbl, hash) both sides; query side is small → broadcast.
    val posts = Lsh.explodeHashes(hashed)
    val qexact = Lsh.explodeHashes(
      queries.select(col("vec_id").as("query_id"), col("hashes")), "query_id")
    // Multiprobe: also probe Hamming-1 buckets on the QUERY side only — the
    // index stays untouched, so the cost is |Q|·tables·bits extra probe keys.
    val qposts = if (probeBits > 0) Lsh.multiprobe(qexact, probeBits) else qexact

    // A5: collision counting — equi-join on (tbl, hash), count per pair.
    val collisions = posts
      .join(broadcast(qposts), Seq("tbl", "hash"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(count(lit(1)).as("collisions"))

    val wK1 = Window.partitionBy(col("query_id"))
      .orderBy(col("collisions").desc, col("vec_id").asc)
    val k1set = collisions
      .withColumn("r1", row_number().over(wK1))
      .filter(col("r1") <= k1)
      .drop("r1")

    // A6: exact re-rank of the k1 candidates.
    val vecs = hashed.select(col("vec_id"), col("embedding"))
    val qvecs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val rescored = k1set
      .join(vecs, "vec_id")
      .join(broadcast(qvecs), "query_id")
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"), col("collisions"),
        VectorExpressions.l2(col("qv"), col("embedding")).as("dist"))
    val wK2 = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    rescored
      .withColumn("rank", row_number().over(wK2))
      .filter(col("rank") <= k2)
      .select(
        col("query_id"), col("neighbor_id"), col("rank"),
        col("collisions"), Det.display(col("dist"), 4).as("dist4"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- q125

  /** q125 — RECALL BENCHMARK as a first-class query (SURVEY §2.A A10: the
    * reference validated its ANN empirically by sweeping recall@k of
    * `_aknn_search` against brute force; this is that measurement as a
    * DataFrame op a user can run over any index). Per query: the exact
    * top-k set, the indexed two-phase LSH top-k set, their overlap, and
    * the integer recall percentage.
    *
    * Both inputs are k-bounded per query (k·|Q| rows total), so the
    * overlap join and the per-query aggregate are trivially sized whatever
    * the corpus is — the expensive parts are the two searches themselves,
    * which keep their own audited plan shapes. Rows-only gate (the LSH leg
    * is model-dependent); the recall floor itself is spec-pinned
    * (MiscSpec: mean recall ≥ the LshSpec 0.7 floor, exact leg always
    * full).
    */
  def recallBenchmark(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      lshTopKIndexed(spark, sfDir, queryMaxId, k1, k))

  /** q140 — the A10 recall measurement against the PERSISTED IVF index
    * (the q125 twin for the second index family): per-query exact-vs-IVF
    * overlap and integer recall%. Same two-leg shape; the approximate leg
    * is the cell-partition-pruned search a production deployment actually
    * serves, so this row tells an operator what the nprobe setting costs
    * in recall on THEIR corpus (RecallSweep sweeps the wider ladder).
    */
  def recallBenchmarkIvf(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      cells: Int = 16,
      nprobe: Int = 4): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Vectors.annIvfIndexed(spark, sfDir, queryMaxId, k, cells, nprobe))

  /** q166 — the raw-vector flagship (ES `knn` with `query_vector`): fetch
    * one stored embedding's VALUES and search by them as an external
    * vector (its own id excluded) — the "embed the user's query text,
    * then search" deployment path, which never has a stored id. Gate is
    * rows-only (model-dependent like q23); MiscSpec pins exact parity
    * with the stored-id search for the same vector.
    */
  def lshTopKByVector(
      spark: SparkSession,
      sfDir: String,
      sourceId: Long = 3,
      k1: Int = 100,
      k2: Int = 10): DataFrame = {
    val idx = Index.ensure(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === sourceId)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    searchIndexByVector(spark, idx, q, k1, k2, excludeIds = Seq(sourceId))
  }

  /** q158 — the A10 recall measurement against the PERSISTED BQ index
    * (completing the production-search triad with q125/q140): per-query
    * exact-vs-BQ overlap and integer recall%. The approximate leg is the
    * xor+popcount Hamming scan over the 8-byte code table — this row tells
    * an operator what one sign bit per dimension costs in recall at their
    * k1 on THEIR corpus (RecallSweep sweeps the k1 ladder: 0.66/0.88/0.98
    * at k1=50/100/200 on the fixtures).
    */
  def recallBenchmarkBq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annIndexed(spark, Pq.BQ, sfDir, queryMaxId, k1, k))

  /** q172 — the A10 recall measurement against the PERSISTED PQ index
    * (completing the recall-gate family across the whole compression
    * ladder: q125 LSH, q140 IVF, q158 BQ, q172 PQ, q173 SQ8): per-query
    * exact-vs-ADC overlap and integer recall%. The approximate leg is the
    * 32×-compressed asymmetric-distance scan a production deployment
    * serves — this row prices the m=8/k=16 codebook's recall at the
    * caller's k1 on THEIR corpus (RecallSweep sweeps the wider ladder).
    */
  def recallBenchmarkPq(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annIndexed(spark, Pq.PQ(), sfDir, queryMaxId, k1, k))

  /** q173 — the A10 recall measurement against the PERSISTED SQ8 index:
    * per-query exact-vs-SQ8 overlap and integer recall%. The approximate
    * leg scans 1 byte per dimension — near-exact by construction, and this
    * row is the gate that KEEPS it near-exact (a quantization-grid
    * regression shows up as a recall drop here before any user sees it).
    */
  def recallBenchmarkSq8(
      spark: SparkSession,
      sfDir: String,
      queryMaxId: Long = 8,
      k: Int = 10,
      k1: Int = 100): DataFrame =
    recallOf(
      KnnExact.topK(spark, sfDir, queryMaxId, k),
      Pq.annIndexed(spark, Pq.SQ8, sfDir, queryMaxId, k1, k))

  /** The overlap-count core shared by every recall row. ONE exact leg: a
    * left join marks each exact neighbor found by the approximate leg, and
    * a single aggregate counts both totals — two legs total, not three (a
    * separate semi-join hits branch would re-plan and re-execute the
    * O(|Q|·N) brute-force subtree with no exchange reuse).
    */
  private def recallOf(exactDf: DataFrame, approxDf: DataFrame): DataFrame =
    exactDf
      .select(col("query_id"), col("neighbor_id"))
      .join(
        approxDf.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hits"))
      .withColumn("recall_pct", expr("n_hits * 100 div n_exact"))
      .orderBy(col("query_id"))
}

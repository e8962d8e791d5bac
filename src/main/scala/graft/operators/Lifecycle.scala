package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Index mutation machinery shared by every persisted layout — the LSH
  * postings index in [[Index]], the IVF cell table in [[Vectors]], the one
  * flat code table in [[Pq]] (shared by its PQ, SQ8 and BQ codecs) and the
  * cell-partitioned IVF-PQ code table: parquet is immutable, so all four
  * express the ES document lifecycle the same way —
  *
  *   - DELETE: ids append to `<dir>/tombstones/`; readers anti-join them out
  *     (the LSH probe filters by the driver-loaded set, [[liveness]]).
  *   - UPSERT: every stored row carries [[BatchCol]], the append generation
  *     that wrote it (0 = initial build). Re-ingesting an id records
  *     (id, batch) in `<dir>/superseded/`; readers keep only rows at or
  *     after the id's latest supersede point, so a newer version REPLACES
  *     the older without rewriting anything.
  *   - Re-adding a deleted id resurfaces it: append clears arriving ids from
  *     the tombstone set through the one swap protocol ([[promoteSwap]]).
  *
  * Compaction-class rewrites are where dead versions and tombstoned rows get
  * physically dropped; until then the live views pay one broadcast-small
  * anti-join / join per read, and nothing at all while the marker dirs are
  * absent (build-once indexes keep their plain-scan plans).
  */
object Lifecycle {

  /** Append generation column carried by every stored row. */
  val BatchCol = "batch"

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The write-aside / two-rename swap protocol, stated ONCE for every
    * swap-managed directory ([[vacuum]] parts, [[adoptStreamedLayout]],
    * [[Index.compact]], `Text.compactStore` on digest/band stores, the
    * tombstone set's rewrite in [[finishAppend]]). Three
    * helpers so a protocol fix can never silently miss one copy:
    *
    * [[settleSwap]] rolls a crashed swap forward — when a maintenance op
    * died between its stage and promote renames, the only complete copy of
    * the data sits in `old` and `live` is missing. EVERY entry point of a
    * swap-managed directory (read probes included) settles first, so no
    * writer can blindly recreate a missing live dir and trick a later
    * swap's recovery into deleting the real data staged in `old`.
    * Race-tolerant: settle runs on read paths too, so when two concurrent
    * operations race to settle the same crashed swap, the rename loser
    * re-checks for the winner's result instead of failing a recovery that
    * actually succeeded.
    */
  def settleSwap(fs: FileSystem, live: Path, old: Path): Unit =
    if (fs.exists(old) && !fs.exists(live)) {
      if (!fs.rename(old, live))
        require(fs.exists(live), s"could not roll $old forward to $live")
      graft.Readers.bump() // the live dir just changed under any memoized reader
    }

  /** Clear leftover swap staging: a post-promote `old` (crash after the
    * second rename) and a half-written `tmp`. Maintenance-op entry ONLY
    * (single-writer contract) — a read-path settle must never delete a
    * concurrent maintenance op's in-flight staging. Call after
    * [[settleSwap]], which disambiguates a leftover `old` (live present →
    * stale cleanup debt) from the sole surviving copy (live absent).
    */
  def clearSwapStaging(fs: FileSystem, old: Path, tmp: Path): Unit = {
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Stage-aside + promote + cleanup. `tmp` must be fully written. Crash
    * windows: before the first rename → `live` intact, `tmp` garbage;
    * between the renames → the only complete copy is `old`, which
    * [[settleSwap]] rolls forward; after the promote → a stale `old` that
    * the next [[clearSwapStaging]] drops.
    */
  def promoteSwap(fs: FileSystem, live: Path, old: Path, tmp: Path): Unit = {
    require(fs.rename(live, old), s"could not stage $live aside")
    require(fs.rename(tmp, live), s"could not promote $tmp")
    fs.delete(old, true)
    graft.Readers.bump()
  }

  /** Settle a crashed store-compaction swap at a store entry point:
    * slash-normalize the dir (the `_old`/`_compacting` sibling naming
    * breaks on a trailing slash) and roll a crashed [[promoteSwap]]
    * forward via [[settleSwap]]. Returns the normalized dir. Shared by
    * ALL persisted store families (digest/band/cell) so a protocol fix
    * can never silently miss one copy.
    */
  def settleStore(spark: SparkSession, storeDir: String): String = {
    val norm = storeDir.replaceAll("/+$", "")
    settleSwap(fsOf(spark, norm), new Path(norm), new Path(s"${norm}_old"))
    norm
  }

  /** Tiny whole-file marker I/O for store/layout identity sentinels
    * (`_params`, `_adopted`): single-block metadata files written by one
    * writer, read whole.
    */
  def writeMarker(fs: FileSystem, path: Path, content: String): Unit = {
    val out = fs.create(path, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readMarker(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Delete-by-id as TOMBSTONES (the ES delete-doc analog): O(|batch|) per
    * delete — no index rewrite. The tombstone set stays id-only (8 bytes a
    * row) and is broadcast into the anti-join while small — the usual
    * deleted-fraction regime; Catalyst falls back to a shuffled anti-join if
    * it ever isn't.
    */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("vec_id").write.mode(SaveMode.Append).parquet(s"$indexDir/tombstones")
    graft.Readers.bump()
  }

  /** Monotonic batch numbers via O(1) marker files (`appends/b<N>`): no
    * corpus scan for max(batch), no coordination beyond the filesystem.
    * Allocated (marker created) BEFORE any data is written, so a crashed
    * append can never share a number with its successor — a gap in the
    * sequence is harmless, a collision would merge two versions.
    *
    * The marker create is EXCLUSIVE (`overwrite = false`): two appenders
    * racing to the same number both list max = N, but only one wins the
    * atomic create of `bN+1`; the loser walks forward until its create
    * succeeds. On HDFS/POSIX, create-exclusive is atomic, making concurrent
    * appends collision-free; on eventually-consistent object stores the
    * single-writer contract of the other maintenance ops still applies.
    */
  def allocateBatch(fs: FileSystem, indexDir: String): Long = {
    val dir = new Path(s"$indexDir/appends")
    val next =
      if (!fs.exists(dir)) 1L
      else fs.listStatus(dir).map(_.getPath.getName)
        .collect { case s if s.startsWith("b") => s.drop(1).toLong }
        .foldLeft(0L)(math.max) + 1L
    fs.mkdirs(dir)
    var n = next
    var won = false
    while (!won) {
      try {
        fs.create(new Path(dir, s"b$n"), false).close()
        won = true
      } catch {
        // ONLY the lost-race signal advances; any other IOException (quota,
        // permissions, safe-mode) must propagate, not spin the loop forever.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => n += 1
        case _: java.nio.file.FileAlreadyExistsException => n += 1
      }
    }
    n
  }

  /** The tombstone set's swap directories: live, staged aside, and the
    * rewrite being written ([[finishAppend]]).
    */
  private def tombstoneSwap(indexDir: String): (Path, Path, Path) =
    (new Path(s"$indexDir/tombstones"), new Path(s"$indexDir/tombstones_old"),
      new Path(s"$indexDir/tombstones_rewriting"))

  /** Settle a crashed tombstone rewrite and clear its staging — the entry
    * step of an append and of a vacuum ([[settleSwap]], then
    * [[clearSwapStaging]]).
    */
  private def settleTombstones(fs: FileSystem, indexDir: String): Unit = {
    val (ts, old, tmp) = tombstoneSwap(indexDir)
    settleSwap(fs, ts, old)
    clearSwapStaging(fs, old, tmp)
  }

  /** The append PROTOCOL, stated once for every layout: settle any crashed
    * tombstone swap, retire a streamed bootstrap's sink log, allocate the
    * batch number BEFORE data is written (a crashed append can never share a
    * number with its successor), run the layout's own `write(batch)`, then
    * the marker bookkeeping ([[finishAppend]]) against `stored` — evaluated
    * by name AFTER the data lands. The ordering here is load-bearing crash
    * safety; encoding it once means a protocol fix cannot silently miss one
    * of the four layouts.
    */
  def appendWith(
      spark: SparkSession,
      indexDir: String,
      newIds: DataFrame,
      adoptParts: Seq[(String, Seq[String])],
      stored: => DataFrame)(write: Long => Unit): Unit = {
    val fs = fsOf(spark, indexDir)
    settleTombstones(fs, indexDir)
    adoptParts.foreach { case (sub, pcols) =>
      adoptStreamedLayout(spark, indexDir, sub, pcols)
    }
    val batch = allocateBatch(fs, indexDir)
    // Bump even on a failed write: partial data may have landed, and a stale
    // memoized reader must never outlive it.
    try {
      write(batch)
      finishAppend(spark, indexDir, newIds, batch, stored)
    } finally graft.Readers.bump()
  }

  /** The append bookkeeping every layout shares, run AFTER the layout's data
    * files land:
    *
    * 1. Upsert markers (ES index-doc: a newer version REPLACES the older):
    *    arriving ids that already exist in the stored layout — live,
    *    deleted, or previously superseded — get a supersede marker at this
    *    batch, so readers drop every older version. `stored` is the layout's
    *    raw row set; the probe reads only (vec_id, batch) — column-pruned.
    *    Written BEFORE the tombstone clear: a crash between the two leaves a
    *    re-added id still deleted (conservative, nothing wrong served)
    *    rather than serving two versions.
    * 2. Tombstone clear (delete-then-index semantics): drop arriving ids
    *    from the tombstone set by writing the rest aside and swapping it in
    *    with [[promoteSwap]], never a delete of the only live copy. A crash
    *    between its renames leaves the old set staged aside: readers read
    *    it there, and the next append or vacuum rolls it forward
    *    ([[settleSwap]]). The re-added ids stay deleted until the append is
    *    replayed — the conservative outcome step 1 already accepts.
    */
  def finishAppend(
      spark: SparkSession,
      indexDir: String,
      newIds: DataFrame,
      batch: Long,
      stored: DataFrame): Unit = {
    val fs = fsOf(spark, indexDir)
    // Pinned eagerly: the emptiness probe AND the marker write both consume
    // the semi-join; unpinned, the common no-upsert append would execute the
    // full probe against the stored layout twice.
    val reingested = Materialize.stable(
      newIds.select(col("vec_id")).distinct()
        .join(stored.filter(col(BatchCol) < batch).select(col("vec_id")),
          Seq("vec_id"), "left_semi")
        .withColumn(BatchCol, lit(batch)),
      eager = true)
    try {
      if (!reingested.isEmpty)
        reingested.write.mode(SaveMode.Append).parquet(s"$indexDir/superseded")
    } finally Materialize.release(reingested) // no leak if the write fails
    val (ts, old, tmp) = tombstoneSwap(indexDir)
    if (fs.exists(ts)) {
      val remaining = spark.read.parquet(ts.toString)
        .join(newIds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .collect() // tombstones are id-only and small by regime
      import spark.implicits._
      remaining.map(_.getLong(0)).toSeq.toDF("vec_id")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      promoteSwap(fs, ts, old, tmp)
    }
  }

  /** The layout's marker sets, each absent until its first write: the
    * tombstoned ids, and each re-ingested id's live-from batch (its latest
    * supersede point: rows of an earlier batch are replaced versions).
    * Hadoop FS, not java.io.File: indexDir may be hdfs://..., where a
    * File.exists check is always false and deletes would stop applying. A
    * tombstone rewrite that crashed between its renames left the set staged
    * aside: read it there, never an absent set as empty, until the next
    * append or vacuum settles it; a reader never renames (its roll-forward
    * racing an append's promote would nest the new set inside the old one).
    */
  private def markers(spark: SparkSession, indexDir: String): (Option[DataFrame], Option[DataFrame]) = {
    val fs = fsOf(spark, indexDir)
    val (path, old, _) = tombstoneSwap(indexDir)
    val superseded = new Path(s"$indexDir/superseded")
    (Seq(path, old).find(fs.exists).map(p => graft.Readers.parquet(spark, p.toString)),
      Option.when(fs.exists(superseded))(graft.Readers.parquet(spark, superseded.toString)
        .groupBy(col("vec_id")).agg(max(col(BatchCol)).as("live_from"))))
  }

  /** The live view as a predicate over (vec_id, batch), for a reader that
    * filters in its own tasks (the LSH probe): the sorted tombstone set and
    * live-from batches, loaded by one small collect each.
    */
  final class Liveness(dead: Array[Long], superseded: Array[Long], from: Array[Long]) extends Serializable {
    def apply(vec: Long, batch: Long): Boolean =
      java.util.Arrays.binarySearch(dead, vec) < 0 && {
        val at = java.util.Arrays.binarySearch(superseded, vec)
        at < 0 || batch >= from(at)
      }
  }

  /** The layout's [[Liveness]]; None while it has no marker. */
  private[operators] def liveness(spark: SparkSession, indexDir: String): Option[Liveness] = {
    val (dead, sup) = markers(spark, indexDir)
    Option.when(dead.nonEmpty || sup.nonEmpty) {
      val from = sup.fold(Array.empty[Row])(_.collect()).map(r => r.getLong(0) -> r.getLong(1)).sorted
      new Liveness(dead.fold(Array.empty[Row])(_.collect()).map(_.getLong(0)).sorted,
        from.map(_._1), from.map(_._2))
    }
  }

  /** The live row set WITH its batch column — what [[vacuum]] persists and
    * what [[Index.integrityReport]] attributes orphans by: tombstoned ids
    * out by a broadcast anti-join, superseded versions by a broadcast join
    * on the live-from batches; the plan is untouched without markers.
    */
  private[operators] def liveKeepBatch(spark: SparkSession, indexDir: String, df: DataFrame): DataFrame = {
    val (dead, sup) = markers(spark, indexDir)
    val alive = dead.fold(df)(t => df.join(broadcast(t), Seq("vec_id"), "left_anti"))
    sup.fold(alive)(s => alive.join(broadcast(s), Seq("vec_id"), "left")
      .filter(col("live_from").isNull || col(BatchCol) >= col("live_from")).drop("live_from"))
  }

  /** The live view of any stored row set: tombstoned ids out, superseded
    * versions out, bookkeeping column dropped. Both filters are no-ops (the
    * input plan is returned untouched) until the first delete / re-ingest.
    */
  def live(spark: SparkSession, indexDir: String, df: DataFrame): DataFrame =
    liveKeepBatch(spark, indexDir, df).drop(BatchCol)

  /** Purging compaction, shared by every layout: physically rewrite each
    * data part keeping only LIVE rows (tombstoned ids and superseded
    * versions dropped), then retire the marker dirs — returning reads to
    * the plain-scan plans a build-once index has. This is the op that stops
    * tombstone/supersede debt growing forever under daily re-ingest; without
    * it every read pays the anti-join/join against an ever-larger marker
    * set.
    *
    * `parts` lists each data subdir with its partition columns (e.g.
    * `("postings", Seq("pkey"))`, `("cells", Seq("cell"))`); partitioned
    * parts are re-clustered one-file-per-directory, which also settles the
    * small-file debt of repeated appends. A part named in `rewrite` is
    * written to the staging dir by its own function instead.
    *
    * Crash safety, same single-writer maintenance contract as
    * [[Index.compact]]: each part uses the write-aside / two-rename swap
    * with explicit recovery, and the marker dirs are deleted only after
    * EVERY part has been promoted. A crash at any intermediate point leaves
    * readers correct: already-purged parts simply have nothing for the
    * still-present markers to filter; a re-run recovers and finishes. The
    * `appends/` batch markers are deliberately KEPT so post-vacuum appends
    * keep allocating monotonically increasing batch numbers — reusing a
    * batch number would merge two generations of the same id.
    */
  def vacuum(
      spark: SparkSession,
      indexDir: String,
      parts: Seq[(String, Seq[String])],
      rewrite: Map[String, String => Unit] = Map.empty): Unit = {
    val fs = fsOf(spark, indexDir)
    // Settle a crashed append's half-finished tombstone swap first, so the
    // tombstone set we purge against is the consistent live one.
    settleTombstones(fs, indexDir)
    parts.foreach { case (sub, pcols) =>
      val livePath = new Path(s"$indexDir/$sub")
      val old = new Path(s"$indexDir/${sub}_old")
      val tmp = new Path(s"$indexDir/${sub}_compacting")
      settleSwap(fs, livePath, old)
      clearSwapStaging(fs, old, tmp)
      rewrite.getOrElse(sub, (to: String) => {
        val purged = liveKeepBatch(spark, indexDir, spark.read.parquet(livePath.toString))
        val clustered =
          if (pcols.nonEmpty) purged.repartition(pcols.map(col): _*)
          else purged
        val w = clustered.write.mode(SaveMode.Overwrite)
        (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(to)
      })(tmp.toString)
      promoteSwap(fs, livePath, old, tmp)
    }
    // All parts are physically live-only now; the markers are dead weight.
    // (Deleting them one by one is fine mid-crash — a surviving marker set
    // just filters rows that no longer exist.)
    Seq("tombstones", "superseded")
      .foreach(d => fs.delete(new Path(s"$indexDir/$d"), true))
    graft.Readers.bump()
  }

  /** Convert a STREAMED bootstrap layout into a plain batch layout. The
    * streaming file sink records its committed files in `_spark_metadata`,
    * and batch reads of such a directory list ONLY sink-committed files —
    * so rows appended later by the batch lifecycle would be silently
    * invisible to every reader (and to [[finishAppend]]'s stored probe).
    * Append entry points call this first: when a sink log is present, the
    * committed rows are rewritten aside and swapped in as a plain directory
    * (write-aside + two-rename, the [[vacuum]] crash protocol), after which
    * batch appends and the streamed history coexist correctly. No-op — one
    * existence check — for batch-built layouts. Contract: call only after
    * the bootstrap stream is STOPPED; the sink's exactly-once log is
    * retired by the rewrite.
    */
  /** Sentinel marking a layout subdir as adopted: `<dir>_adopted`, a SIBLING
    * of the data dir so part rewrites (vacuum/compact swaps) can't lose it.
    * The bootstrap streaming sinks refuse to start against an adopted dir —
    * restarting one with its old checkpoint would recreate a
    * `_spark_metadata` log that hides every batch-appended row from every
    * reader, turning the doc-only "only after the stream is STOPPED"
    * contract into a fast failure.
    */
  def adoptedSentinel(outDir: String): Path = new Path(s"${outDir}_adopted")

  def assertNotAdopted(spark: SparkSession, outDir: String): Unit = {
    val p = adoptedSentinel(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"$outDir was adopted into the batch lifecycle (adoptStreamedLayout); " +
        "a restarted bootstrap sink would recreate a _spark_metadata log " +
        "that hides batch-appended rows from every reader. Bootstrap into a " +
        "fresh directory, or ingest incrementally via Streams.liveAppendSink.")
  }

  def adoptStreamedLayout(
      spark: SparkSession,
      indexDir: String,
      sub: String,
      pcols: Seq[String]): Unit = {
    val fs = fsOf(spark, indexDir)
    val live = new Path(s"$indexDir/$sub")
    val old = new Path(s"$indexDir/${sub}_old")
    val tmp = new Path(s"$indexDir/${sub}_adopting")
    // Settle a crashed prior swap (same states as vacuum: a staged-aside
    // copy with no live dir rolls forward; leftovers beside a live dir drop).
    settleSwap(fs, live, old)
    clearSwapStaging(fs, old, tmp)
    if (!fs.exists(new Path(live, "_spark_metadata"))) return
    // Stamp BEFORE the swap (overwrite-idempotent for retries): a crash
    // after the promotion renames has already retired the sink log, so the
    // retry's metadata check above would early-return without ever
    // stamping — the one window where the guard could be lost forever.
    // Stamping first is merely conservative: if we crash before the swap
    // completes, the sink log is still present and the NEXT append's
    // adoption retry finishes the job; bootstrap sinks refuse a little
    // early, which is the safe direction.
    fs.create(adoptedSentinel(live.toString), true).close()
    val rows = spark.read.parquet(live.toString) // this read honors the sink log
    val clustered =
      if (pcols.nonEmpty) rows.repartition(pcols.map(col): _*) else rows
    val w = clustered.write.mode(SaveMode.Overwrite)
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(tmp.toString)
    promoteSwap(fs, live, old, tmp)
  }

  /** Reset ALL lifecycle marker state for a from-scratch rebuild into an
    * existing directory. A full build stamps every row batch=0; stale
    * `superseded/(id, live_from>0)` or `tombstones/` entries from the
    * directory's previous life would silently kill those fresh rows (an
    * id that was only ever upserted before the rebuild would vanish from
    * the live view). Every build entry point calls this BEFORE writing.
    * `appends/` resets too: batch numbering restarts with the new layout
    * generation.
    */
  def resetMarkers(spark: SparkSession, indexDir: String): Unit = {
    val fs = fsOf(spark, indexDir)
    Seq("tombstones", "tombstones_old", "tombstones_rewriting",
        "superseded", "appends")
      .foreach(d => fs.delete(new Path(s"$indexDir/$d"), true))
    // Adoption sentinels describe the PREVIOUS layout generation — a rebuilt
    // directory may legitimately be bootstrapped by a fresh streaming sink
    // again, so "ALL marker state" includes them.
    val root = new Path(indexDir)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.endsWith("_adopted"))
        .foreach(p => fs.delete(p, false))
    graft.Readers.bump()
  }
}

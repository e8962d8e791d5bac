package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Index, Knn, Lsh, Pq}

/** Randomized lifecycle-sequence fuzz: the scenario specs in LshSpec cover
  * each op pair (append+search, delete+re-append, vacuum+crash, …) but not
  * their INTERACTIONS under arbitrary orderings — exactly where marker
  * bookkeeping bugs live (a tombstone surviving a vacuum, a supersede
  * marker outliving a compact, batch numbering after vacuum). Seeded
  * random op sequences run against a driver-side model of the live set;
  * after every op the live view must equal the model, and the final index
  * must serve searches IDENTICAL to a from-scratch build of the model's
  * end state under the same LSH model — which also pins the
  * appended-layout search path (duplicate-collapse exchanges on) against
  * the fresh-layout path (collapse skipped) on the same data.
  */
class LifecycleFuzzSpec extends SparkSpec {

  test("randomized lifecycle sequences keep the live view and search exact") {
    import spark.implicits._
    val embRows = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 120).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val allIds = embRows.map(_._1)
    val byId = embRows.toMap
    val model = Lsh.fit(Tables.embeddings(spark, sf0001), tables = 8, bits = 3)
    def df(ids: Seq[Long]) =
      ids.sorted.map(id => (id, byId(id))).toDF("vec_id", "embedding")

    val rnd = new scala.util.Random(20260814L)
    (1 to 2).foreach { trial =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-fuzz$trial").toString + "/idx"
      val initial = allIds.filter(_ => rnd.nextBoolean()).toSeq
      var live = initial.toSet
      Index.build(spark, df(initial), model, dir, numBuckets = 16)
      val ops = scala.collection.mutable.ArrayBuffer[String]()
      (1 to 8).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => // append — may re-ingest live ids (upsert) or deleted ids
            val ids = allIds.filter(_ => rnd.nextInt(6) == 0).toSeq
            if (ids.nonEmpty) {
              Index.append(spark, dir, df(ids)); live ++= ids
              ops += s"append(${ids.size})"
            }
          case 1 => // delete — may name absent ids (harmless tombstones)
            val ids = allIds.filter(_ => rnd.nextInt(8) == 0).toSeq
            if (ids.nonEmpty) {
              Index.delete(spark, dir, ids); live --= ids
              ops += s"delete(${ids.size})"
            }
          case 2 => Index.compact(spark, dir); ops += "compact"
          case 3 => Index.vacuum(spark, dir); ops += "vacuum"
        }
        val got = Index.liveVectors(spark, dir).select(col("vec_id"))
          .collect().map(_.getLong(0)).toSet
        assert(got == live,
          s"trial $trial live-view drift after [${ops.mkString(" -> ")}]: " +
            s"extra=${(got -- live).toSeq.sorted} missing=${(live -- got).toSeq.sorted}")
      }
      // Search parity vs a from-scratch build of the same end state under
      // the same model: identical buckets, identical collision counts,
      // identical re-rank — through whatever marker state the sequence left.
      val ref = java.nio.file.Files
        .createTempDirectory(s"graft-fuzzref$trial").toString + "/idx"
      Index.build(spark, df(live.toSeq), model, ref, numBuckets = 16)
      val want = Knn.searchIndex(spark, ref, 8, 50, 5).collect().map(_.toSeq).toSeq
      val got = Knn.searchIndex(spark, dir, 8, 50, 5).collect().map(_.toSeq).toSeq
      assert(got == want,
        s"trial $trial search drift vs rebuild after [${ops.mkString(" -> ")}]")
    }
  }

  test("randomized IVF lifecycle sequences: end state equals a fresh assignment") {
    import spark.implicits._
    import graft.operators.Vectors
    val embRows = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 120).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val allIds = embRows.map(_._1)
    val byId = embRows.toMap
    def df(ids: Seq[Long]) =
      ids.sorted.map(id => (id, byId(id))).toDF("vec_id", "embedding")

    val rnd = new scala.util.Random(817L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fuzzivf").toString + "/idx"
    val initial = allIds.filter(_ => rnd.nextBoolean()).toSeq
    var live = initial.toSet
    // frozen quantizer fit on the initial set — appends must assign with
    // the STORED centroids, so the end state is reproducible from it
    val cents = Vectors.quantizer(spark, df(initial), 8)
    Vectors.buildIvfIndexWith(spark, df(initial), cents, dir)
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 8).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 =>
          val ids = allIds.filter(_ => rnd.nextInt(6) == 0).toSeq
          if (ids.nonEmpty) {
            Vectors.appendIvfIndex(spark, dir, df(ids)); live ++= ids
            ops += s"append(${ids.size})"
          }
        case 1 =>
          val ids = allIds.filter(_ => rnd.nextInt(8) == 0).toSeq
          if (ids.nonEmpty) {
            Vectors.deleteFromIvfIndex(spark, dir, ids); live --= ids
            ops += s"delete(${ids.size})"
          }
        case 2 => Vectors.vacuumIvfIndex(spark, dir); ops += "vacuum"
      }
      val ids = Vectors.liveCells(spark, dir).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSeq
      assert(ids.length == ids.distinct.length,
        s"duplicate live cell rows after [${ops.mkString(" -> ")}]")
      assert(ids.toSet == live,
        s"IVF live-view drift after [${ops.mkString(" -> ")}]")
    }
    // end state: (vec_id, cell, embedding) must equal a fresh assignment of
    // the live set under the stored quantizer — cell geometry frozen, no
    // stale or duplicated row through whatever marker state remains
    val got = Vectors.liveCells(spark, dir)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet
    val want = Vectors.assignCellsWith(df(live.toSeq), cents)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet
    assert(got == want, s"IVF end state drift after [${ops.mkString(" -> ")}]")
  }

  /** The quantized code index under random append (upsert / resurface),
    * delete and vacuum sequences, once per codec: after every op the live
    * code table must hold each live id exactly once, and the end state must
    * equal a fresh encode of the live set under the frozen model fit on the
    * initial set — appends encode with the STORED model, so the end state
    * is reproducible from it.
    */
  Seq[(String, Pq.Codec[_ <: AnyRef], Long)](
    ("SQ8", Pq.SQ8, 4242L), ("PQ", Pq.PQ(), 60814L), ("BQ", Pq.BQ, 31337L)).foreach {
    case (name, codec, seed) =>
      test(s"randomized $name lifecycle sequences: end state equals a fresh encode") {
        fuzzCodes(name, codec, seed)
      }
  }

  private def fuzzCodes[M <: AnyRef](name: String, codec: Pq.Codec[M], seed: Long): Unit = {
    import spark.implicits._
    val embRows = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 120).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val allIds = embRows.map(_._1)
    val byId = embRows.toMap
    def df(ids: Seq[Long]) =
      ids.sorted.map(id => (id, byId(id))).toDF("vec_id", "embedding")

    val rnd = new scala.util.Random(seed)
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-fuzz${codec.dirName}").toString + "/idx"
    val initial = allIds.filter(_ => rnd.nextBoolean()).toSeq
    var live = initial.toSet
    val model = codec.fit(df(initial))
    Pq.build(spark, codec, df(initial), model, dir)
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 8).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 =>
          val ids = allIds.filter(_ => rnd.nextInt(6) == 0).toSeq
          if (ids.nonEmpty) {
            Pq.append(spark, codec, dir, df(ids)); live ++= ids
            ops += s"append(${ids.size})"
          }
        case 1 =>
          val ids = allIds.filter(_ => rnd.nextInt(8) == 0).toSeq
          if (ids.nonEmpty) {
            Pq.delete(spark, dir, ids); live --= ids
            ops += s"delete(${ids.size})"
          }
        case 2 => Pq.vacuum(spark, dir); ops += "vacuum"
      }
      val ids = Pq.liveCodes(spark, dir).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSeq
      assert(ids.length == ids.distinct.length,
        s"duplicate live code rows after [${ops.mkString(" -> ")}]")
      assert(ids.toSet == live,
        s"$name live-view drift after [${ops.mkString(" -> ")}]")
    }
    // (vec_id, code) pairs; a binary code compares by content
    def codes(codeTable: org.apache.spark.sql.DataFrame) =
      codeTable.select(col("vec_id"), col(codec.codeCol)).collect()
        .map(r => (r.getLong(0), r.get(1) match {
          case b: Array[Byte] => b.toSeq
          case c => c
        })).toSet
    val got = codes(Pq.liveCodes(spark, dir))
    val want = codes(codec.encode(df(live.toSeq), model))
    assert(got == want, s"$name end state drift after [${ops.mkString(" -> ")}]")
  }

  test("randomized digest-store sequences: the probe always equals the model") {
    // The store-side twin of the index fuzz: random appends (including
    // exact at-least-once REPLAYS, which legally duplicate store rows) and
    // compactions, with the increment probe checked against a driver-side
    // digest-set model after every op.
    import graft.operators.Text
    val doc = Tables.documents(spark, sf0001)
    def digestsOf(pred: org.apache.spark.sql.Column): Seq[(Long, Option[Long], Option[String])] =
      Text.docDigests(doc.filter(pred)).collect().map(r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)))).toSeq

    val rnd = new scala.util.Random(99L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fuzzdg").toString + "/store"
    Text.buildDigestStore(spark, doc.filter(col("doc_id") % 3 === 0), dir)
    var model: Set[(Option[Long], Option[String])] =
      digestsOf(col("doc_id") % 3 === 0).map(d => (d._2, d._3)).toSet
    var lastAppend: Option[org.apache.spark.sql.Column] = None
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    (1 to 8).foreach { step =>
      rnd.nextInt(3) match {
        case 0 =>
          val m = 4 + rnd.nextInt(4); val r = rnd.nextInt(m)
          val pred = col("doc_id") % m === r
          Text.appendToDigestStore(spark, dir, Text.docDigests(doc.filter(pred)))
          model ++= digestsOf(pred).map(d => (d._2, d._3))
          lastAppend = Some(pred)
          ops += s"append($m,$r)"
        case 1 => lastAppend match {
          case Some(pred) => // at-least-once replay: rows duplicate, set unchanged
            Text.appendToDigestStore(spark, dir, Text.docDigests(doc.filter(pred)))
            ops += "replay"
          case None => ()
        }
        case 2 => Text.compactStore(spark, dir); ops += "compact"
      }
      // probe a batch this op never appended wholesale: survivors must be
      // the in-batch canonicals whose digest is absent from the model
      val pm = 5; val pr = step % pm
      val ppred = col("doc_id") % pm === pr
      val got = Text.dedupBatchAgainstStore(spark, doc.filter(ppred), dir)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val batch = digestsOf(ppred)
      val want = batch.groupBy(d => (d._2, d._3)).map { case (_, ds) => ds.map(_._1).min }
        .filter { id =>
          val d = batch.find(_._1 == id).get
          !model.contains((d._2, d._3))
        }.toSet
      assert(got == want,
        s"digest-store probe drift after [${ops.mkString(" -> ")}]: " +
          s"extra=${(got -- want).toSeq.sorted} missing=${(want -- got).toSeq.sorted}")
    }
  }
}

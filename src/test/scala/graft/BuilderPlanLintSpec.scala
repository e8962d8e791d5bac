package graft

import graft.{operators => ops}

/** The four plan lints (cartesian, aggregate demotion, BNLJ audit,
  * unguarded global window) extended to the BUILDER/INGEST surface —
  * r14, verdict order #1: `PlanLintSpec` sweeps only the 208 gate-query
  * plans, but the r12 ArgMinLong SortAggregate defect lived in a FIT
  * pipeline (the table-Lloyd assignment), which no gate plan contains —
  * ingest is priced separately from the timed gate, so a demotion there
  * is invisible to both the bench diff and the gate lint. This spec
  * captures the plan of EVERY Spark action each ensure*-fit-build
  * pipeline executes (a QueryExecutionListener around a COLD rebuild —
  * the artifact dir is deleted first so the real build runs, not the
  * `_SUCCESS` fast path) and runs the identical sweeps with
  * builder-surface whitelists, each entry naming its per-group bound.
  *
  * The registry mirrors Bench.scala's untimed-ingest block (the priced
  * builder surface) plus the raw fit kernels the memoized entries would
  * otherwise hide (kmeansModel/trainCached cache in-JVM, so their
  * ensure-shaped calls replay a read; the quantizer/train calls below
  * run the actual Lloyd/merge pipelines every time).
  */
class BuilderPlanLintSpec extends SparkSpec {

  private def deleteStore(dir: String): Unit =
    Seq(dir, dir + "_old", dir + "_compacting").foreach { d =>
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rec)
        f.delete()
      }
      val f = new java.io.File(d)
      if (f.exists()) rec(f)
    }

  private def capture(body: => Any): Seq[String] = PlanLints.capture(spark)(body)

  /** The persisted-store builders: call once to LOCATE the artifact,
    * delete it, rebuild cold under the listener. Same default
    * parameterizations as Bench's ingest block — the lint covers the
    * production builders, not lint-special twins.
    */
  private val storeBuilders: Seq[(String, () => String)] = Seq(
    "lsh_index" -> (() => ops.Index.ensure(spark, sf0001)),
    "ivf_index" -> (() => ops.Vectors.ensureIvfIndex(spark, sf0001)),
    "pq_index" -> (() => ops.Pq.ensure(spark, ops.Pq.PQ(), sf0001)),
    "sq_index" -> (() => ops.Pq.ensure(spark, ops.Pq.SQ8, sf0001)),
    "ivfpq_index" -> (() => ops.Pq.ensureIvfPqIndex(spark, sf0001)),
    "bq_index" -> (() => ops.Pq.ensure(spark, ops.Pq.BQ, sf0001)),
    "shingle_pairs" -> (() => ops.Text.ensureShinglePairs(spark, sf0001)),
    "pair_postings" -> (() => ops.Vectors.ensurePairPostings(spark, sf0001)),
    "phash_store" -> (() => ops.Media.ensurePhashStore(spark, sf0001)),
    "clean_survivors" -> (() => ops.Text.ensureCleanSurvivors(spark, sf0001)),
    "contaminated_ids" -> (() => ops.Text.ensureContaminatedIds(spark, sf0001)),
    "line_removals" -> (() => ops.Text.ensureLineRemovals(spark, sf0001)),
    "span_hits" -> (() => ops.Text.ensureSpanHits(spark, sf0001)),
    "span_store" -> (() => ops.Text.ensureSpanStore(spark, sf0001)),
    "line_dict_store" -> (() => ops.Text.ensureLineDictStore(spark, sf0001)),
    "novelty_gram_store" -> (() => ops.Text.ensureNoveltyGramStore(spark, sf0001)),
    "vocab_store" -> (() => ops.Retrieval.ensureVocabStore(spark, sf0001)),
    "postings_store" -> (() => ops.Retrieval.ensurePostingsStore(spark, sf0001)),
    "norms_store" -> (() => ops.Retrieval.ensureNormsStore(spark, sf0001)),
    "digest_store" -> (() => ops.Text.ensureDigestStore(spark, sf0001)),
    "band_store" -> (() => ops.Text.ensureBandStore(spark, sf0001)),
    "cell_store" -> (() => ops.Vectors.ensureCellStore(spark, sf0001)),
    "gram_store" -> (() => ops.Text.ensureGramStore(spark, sf0001)),
    "label_store" -> (() => ops.Components.ensureLabelStore(spark, sf0001)))

  /** The fit/assignment kernels, run RAW (no artifact cache, no in-JVM
    * memo) so the capture always sees the real pipelines — including the
    * exact plan family the r12 defect lived in (the table-Lloyd
    * assignment aggregate) and an index append (the lifecycle write path
    * the ensure* entries never replay once built).
    */
  private def fitBuilders: Seq[(String, () => Unit)] = {
    def emb = Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    Seq(
      "kmeans_fit_driver" -> (() => { ops.Vectors.quantizer(spark, emb, 16, iterations = 2); () }),
      "kmeans_fit_table" -> (() => {
        val cents = ops.Vectors.quantizerTable(spark, emb, 64, iterations = 1)
        // the r12 defect site: the assignment aggregates of both the flat
        // and the hierarchical (derived-nprobe) paths, forced end to end
        assert(ops.Vectors.assignCellsWithTable(emb, cents).count() == 500)
        assert(ops.Vectors.assignCellsHierarchical(emb, cents, coarseK = 8).count() == 500)
        ()
      }),
      "bpe_train" -> (() => { ops.Bpe.train(spark, ops.Bpe.vocabulary(spark, sf0001), 8); () }),
      "lsh_build_append" -> (() => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-lint-lsh-").toString
        val model = ops.Lsh.fit(emb.limit(400), tables = 4, bits = 4)
        ops.Index.build(spark, emb.limit(400), model, dir, numBuckets = 8)
        ops.Index.append(spark, dir,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 400))
        deleteStore(dir)
        ()
      }))
  }

  /** Every plan each builder executed, captured from ONE cold rebuild.
    * Computed once — the cold builds are the suite's whole cost.
    */
  private lazy val builderPlans: Seq[(String, Seq[String])] = {
    val stores = storeBuilders.map { case (name, thunk) =>
      val dir = thunk() // locate (warm or cold — either way returns the dir)
      deleteStore(dir)
      val plans = capture { thunk() }
      ops.Materialize.releaseAll()
      name -> plans
    }
    val fits = fitBuilders.map { case (name, thunk) =>
      val plans = capture { thunk() }
      ops.Materialize.releaseAll()
      name -> plans
    }
    stores ++ fits
  }

  test("every builder capture is non-vacuous (a cold rebuild executes jobs)") {
    val empty = builderPlans.collect { case (n, ps) if ps.isEmpty => n }
    assert(empty.isEmpty,
      s"no plans captured for: ${empty.mkString(", ")} - the cold-rebuild " +
        "forcing broke (artifact not deleted, or the builder memoized)")
  }

  test("no builder plans a CartesianProduct") {
    val offenders = builderPlans.flatMap { case (name, plans) =>
      plans.zipWithIndex.collect {
        case (p, i) if PlanLints.hasCartesian(p) => s"$name[$i]"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Builders allowed ObjectHashAggregate plans — the bound is the
    * per-group OBJECT BUFFER, exactly as in PlanLintSpec's gate
    * whitelist.
    */
  private val boundedObjectAggBuilders = Map(
    "kmeans_fit_table" -> ("assignCellsHierarchical step 3: collect_list of " +
      "coarseK 16-byte (d2, ccell) structs per vector — coarseK-bounded by " +
      "the operator's own require(coarseK <= 65536), carries no embedding"),
    "pair_postings" -> ("bucket posting lists: collect_list(vec_id) per " +
      "(tbl, hash) AFTER Skew.capBuckets pre-caps the bucket (the build " +
      "applies the same cap as the mining tail, scaladoc'd at " +
      "ensurePairPostings), so the buffer is cap-bounded past the ceiling " +
      "and E[bucket]-sized below it"),
    "lsh_index" -> ("index posting lists (Index.postingLists): " +
      "collect_list(vec_id) per (tbl, hash, batch) — one bucket's ids, 8 " +
      "bytes each, E[bucket]-sized by Lsh.deriveBits (the list is the " +
      "artifact being persisted, as for pair_postings)"),
    "lsh_build_append" -> "same posting-list build as lsh_index, over one batch",
    "line_removals" -> ("removal map: sort_array(collect_list(idx)) per " +
      "doc_id — bounded by one document's line count (tens of bytes per " +
      "affected doc; the map is the artifact being persisted)"))

  /** Builders allowed SortAggregate plans — NO hash map at all; every
    * entry must name why the pre-sort stream is bounded.
    */
  private val boundedSortAggBuilders = Map.empty[String, String]

  test("no builder demotes an aggregate out of hash aggregation (the r12 defect class)") {
    val offenders = builderPlans.flatMap { case (name, plans) =>
      val sortAggs = plans.map(PlanLints.sortAggregates).sum
      val objAggs = plans.map(PlanLints.objectHashAggregates).sum
      val bad = Seq.newBuilder[String]
      if (sortAggs > 0 && !boundedSortAggBuilders.contains(name))
        bad += s"$name: $sortAggs SortAggregate node(s) across its build plans"
      if (objAggs > 0 && !boundedObjectAggBuilders.contains(name))
        bad += s"$name: $objAggs ObjectHashAggregate node(s) not on the bounded whitelist"
      bad.result()
    }
    assert(offenders.isEmpty,
      offenders.mkString("\n") +
        "\n(the ArgMinLong recipe: aggregate a primitive, join the payload " +
        "back - or add a justified per-group bound to the whitelist)")
  }

  /** Builders audited to carry BroadcastNestedLoopJoins — the bound is
    * the BROADCAST side, all centroid/model tables bounded by explicit
    * ceilings (KCeiling rows / CentroidBroadcastMaxBytes refusal), never
    * corpus-sized. Locked as a SET like the gate audit: a new builder
    * acquiring a BNLJ fails until audited; a stale entry must go.
    */
  private val auditedBnljBuilders: Set[String] = Set(
    // table-path Lloyd + both assignment kernels: the (cell, centroid)
    // table broadcasts into the corpus scan — build side ≤ KCeiling rows
    // and additionally size-refused past CentroidBroadcastMaxBytes (the
    // assignCellsWithTable valve). The DRIVER-path fits (ivf/cell/pq
    // stores at fixture scale, kmeans_fit_driver) assign via a codegen
    // expression over a broadcast ARRAY, not a join — no BNLJ, which is
    // why they are absent here.
    "kmeans_fit_table")

  test("builder BroadcastNestedLoopJoins stay locked to the audited set") {
    val actual = builderPlans.collect {
      case (name, plans) if plans.exists(PlanLints.hasBnlj) => name
    }.toSet
    val unaudited = actual -- auditedBnljBuilders
    val stale = auditedBnljBuilders -- actual
    assert(unaudited.isEmpty,
      s"NEW BroadcastNestedLoopJoin(s) in builder(s): ${unaudited.toSeq.sorted.mkString(", ")} " +
        "- audit the build side's bound before whitelisting")
    assert(stale.isEmpty,
      s"stale builder BNLJ whitelist entries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** Builders allowed unpartitioned windows — each names the bounded
    * input.
    */
  private val boundedGlobalWindowBuilders = Map.empty[String, String]

  test("no builder runs an unguarded unpartitioned window") {
    val offenders = builderPlans.flatMap { case (name, plans) =>
      val n = plans.map(PlanLints.unguardedGlobalWindows).sum
      if (n > 0 && !boundedGlobalWindowBuilders.contains(name))
        Some(s"$name: $n unguarded unpartitioned window(s)")
      else None
    }
    assert(offenders.isEmpty,
      offenders.mkString("\n") +
        "\n(restore a WindowGroupLimit guard or partition the window, or " +
        "add a justified bound to the whitelist)")
  }
}

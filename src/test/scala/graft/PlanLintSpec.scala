package graft

/** Whole-surface plan lint — the BASELINE.md engine obligation "no
  * cartesian joins" enforced mechanically over EVERY gate query, not just
  * the hand-picked PlanSpec shapes. `CartesianProduct` is the unbounded
  * shuffle-free N×M physical join; a broadcast nested-loop join against a
  * bounded registry/dimension side (percolate's stored-query table, the
  * 1-row cursor broadcasts) is a different operator and stays allowed —
  * its build side is small by construction, and AQE falls back before it
  * becomes corpus×corpus.
  *
  * Planning only (`executedPlan` never runs jobs beyond the artifact
  * ensure* builds the query constructors perform), so the sweep stays
  * cheap enough to lint all ~170 queries per test run.
  */
class PlanLintSpec extends SparkSpec {

  /** Unpartitioned (SinglePartition) WINDOWS whose input is bounded by
    * construction — each entry names the bound, which is the justification
    * a reviewer should re-check before extending the list. Everything else
    * with a global window must carry a WindowGroupLimit guard (Spark's
    * rank≤k pushdown: per-partition top-k before the single partition), or
    * it serializes its whole input through one task at scale.
    */
  private val boundedGlobalWindows = Map(
    "q103_source_mixing" -> "windows over the source-cardinality counts aggregate",
    "q134_epoch_plan" -> "same apportionment core as q103 — source-cardinality rows",
    "q149_filter_funnel" -> "windows over the literal 5-row rule-stage table",
    "q177_pipeline_aggs" -> "windows over the month-cardinality histogram aggregate (bounded by the date span)",
    "q198_moving_fn" -> "same month-cardinality histogram bound as q177",
    "q151_more_like_this" -> "term-selection window over one example doc's vocabulary",
    "q88_rrf_fusion" -> "rank windows over two already top-k-limited legs")

  // Computed once: both lints read the same ~170 plan strings, and the
  // planning sweep (including first-touch ensure* artifact builds) is the
  // suite's whole cost.
  private lazy val allPlans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan =
        try fn(spark, sf0001).queryExecution.executedPlan.toString
        catch { case scala.util.control.NonFatal(e) => s"PLANFAIL $e" }
      graft.operators.Materialize.releaseAll()
      (name, plan)
    }

  test("no gate query plans a CartesianProduct") {
    val offenders = allPlans.flatMap { case (name, plan) =>
      if (plan.startsWith("PLANFAIL")) Some(s"$name: $plan")
      else if (PlanLints.hasCartesian(plan)) Some(s"$name: cartesian")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // Matchers shared with the r14 builder-surface sweep live in
  // [[PlanLints]]; this spec keeps only the gate-side whitelists.
  private def unguardedGlobalWindows(plan: String): Int =
    PlanLints.unguardedGlobalWindows(plan)

  /** Aggregates allowed to plan as ObjectHashAggregate — each entry names
    * the per-group bound on the object buffer, which is the justification
    * a reviewer should re-check before extending the list.
    * ObjectHashAggregate is the expected physical form for collect_list /
    * collect_set / percentile-style ImperativeAggregates and is fine WHEN
    * the collected group payload is bounded; what the lint hunts is the
    * r12 ArgMinLong defect class — an aggregate that SHOULD be a
    * fixed-width hash aggregate silently demoting to a buffer-object form
    * (or all the way to SortAggregate) because its buffer type
    * disqualified whole-stage HashAggregate, losing map-side partial
    * reduction on an unbounded stream.
    */
  private val boundedObjectAggs = Map(
    "q27_label_centroids" -> ("CentroidAgg UDAF: buffer is the dim-sized scaled-long " +
      "sum array — fixed width per group regardless of group size, partials map-side"),
    "q124_centroid_affinity" -> ("same CentroidAgg dim-sized buffer as q27, over the " +
      "seed class only; reduces to ONE row that broadcasts"),
    "q54_percentiles" -> ("EXACT interpolated percentile is the query's contract and " +
      "fundamentally buffers the per-group value→count map (bounded by the value " +
      "domain, not row count); q65 is the sketch-bounded twin for the 100 TB path"),
    "q65_approx_quantiles" -> "approx_percentile: bounded QuantileSummaries sketch buffer",
    "q67_hll_distinct" -> "HLL sketch aggregate: fixed lgK-sized sketch buffer per group",
    "q59_array_agg" -> ("collect_set(user_id) under the user_id < 15 pushed filter — " +
      "per-group set cardinality ≤ 15 by the query's own predicate"))

  /** Queries allowed to plan a SortAggregate — a SortAggregate means NO
    * hash map at all (each partition's pre-aggregation stream is sorted),
    * which at 100 TB is the 281-s-per-aggregate defect r12 measured. Every
    * entry must name why the input stream is bounded BEFORE the sort.
    * Spark plans min/max over a STRING column this way (a non-fixed-width
    * buffer disqualifies HashAggregate, and declarative aggregates can't
    * use ObjectHashAggregate) — fine exactly when the input is a
    * fixed-cardinality dimension.
    */
  private val boundedSortAggs = Map(
    "q52_json_source" -> ("min(n_name) string buffer over the NATION dimension — " +
      "fixed 25-row table at every TPC-H scale factor"),
    "q69_orc_source" -> ("max(n_name) string buffer over the same fixed 25-row " +
      "NATION dimension as q52"))

  test("no gate query demotes an aggregate out of hash aggregation (the ArgMinLong defect class)") {
    val offenders = allPlans.flatMap { case (name, plan) =>
      if (plan.startsWith("PLANFAIL")) Some(s"$name: $plan")
      else {
        val sortAggs = PlanLints.sortAggregates(plan)
        val objAggs = PlanLints.objectHashAggregates(plan)
        val bad = Seq.newBuilder[String]
        if (sortAggs > 0 && !boundedSortAggs.contains(name))
          bad += s"$name: $sortAggs SortAggregate node(s) — no map-side hash partials"
        if (objAggs > 0 && !boundedObjectAggs.contains(name))
          bad += s"$name: $objAggs ObjectHashAggregate node(s) not on the bounded whitelist"
        bad.result()
      }
    }
    assert(offenders.isEmpty,
      offenders.mkString("\n") +
        "\n(either give the aggregate a fixed-width buffer — the ArgMinLong " +
        "recipe: aggregate a primitive, join the payload back — or add a " +
        "justified per-group bound to the whitelist)")
  }

  /** The AUDITED set of gate queries that plan a BroadcastNestedLoopJoin.
    * A BNLJ ships its build side to every executor and evaluates every
    * (row, build-row) pair — a cartesian in disguise unless the build side
    * is bounded. Every entry below was audited (r13): the bound is
    * SEMANTIC (a pushed key-range filter, a 1-row aggregate, a bounded
    * registry), which no tree inspection can prove, so the lint locks the
    * exact set instead — a NEW query acquiring a BNLJ (e.g. an equi-join
    * whose key condition degrades to a theta predicate) fails the sweep
    * until audited, and a stale entry (query improved to an equi/broadcast
    * hash join) must be removed.
    *
    * Families:
    *  - knn/ann: the ≤5-row query-vector frame broadcasts into the corpus
    *    scan (queryMaxId pushed filter bounds it): q19 q20 q21 q26 q95
    *    q105 q118 q119 q128 q130 q139 q196, and the recall rows through
    *    their [[graft.operators.KnnExact]] leg: q125 q140 q158 q172 q173.
    *    The quantized and indexed IVF searches carry their query side as
    *    plan literals and plan no BNLJ.
    *  - retrieval scoring: 1-row corpus-stats / keyset cursors / idf tables
    *    bounded by the query's own term list: q61 q62 q82 q88 q92 q146
    *    q151 q152 q157 q163 q164 q165 q167 q168.
    *  - registry/threshold broadcasts bounded by construction (stored-query
    *    table, literal band/rule frames, 1-row centroid or quantile cuts):
    *    q06 q116 q121 q124 q126 q127 q141 q149 q153 q206.
    */
  private val auditedBnljQueries: Set[String] = Set(
    "q19_sql_vector_knn", "q20_knn_exact", "q21_knn_cosine", "q26_top_cosine_pairs",
    "q95_knn_dot", "q105_matryoshka_knn", "q118_knn_filtered", "q119_range_search",
    "q125_recall_benchmark", "q128_hard_negatives", "q130_knn_label_eval",
    "q139_ndcg_eval", "q140_recall_ivf", "q158_recall_bq", "q172_recall_pq", "q173_recall_sq8",
    "q196_semantic_decontamination",
    "q61_tfidf_search", "q62_bm25_scores", "q82_token_rarity", "q88_rrf_fusion",
    "q92_token_lift", "q146_search_after", "q151_more_like_this",
    "q152_function_score", "q157_significant_terms", "q163_explain_score",
    "q164_rescore", "q165_collapse", "q167_dis_max", "q168_boosting",
    "q06_price_bands", "q116_length_anomalies", "q121_importance_select",
    "q124_centroid_affinity", "q126_cluster_keywords", "q127_token_drift",
    "q141_index_health", "q149_filter_funnel", "q153_percolate",
    "q206_bucket_selector")

  test("BroadcastNestedLoopJoins stay locked to the audited query set") {
    val actual = allPlans.collect {
      case (name, plan) if !plan.startsWith("PLANFAIL") &&
        PlanLints.hasBnlj(plan) => name
    }.toSet
    val planFails = allPlans.collect {
      case (name, plan) if plan.startsWith("PLANFAIL") => s"$name: $plan"
    }
    assert(planFails.isEmpty, planFails.mkString("\n"))
    val unaudited = actual -- auditedBnljQueries
    val stale = auditedBnljQueries -- actual
    assert(unaudited.isEmpty,
      s"NEW BroadcastNestedLoopJoin(s) in: ${unaudited.toSeq.sorted.mkString(", ")} " +
        "— audit the build side's bound (or restore the equi-key) before whitelisting")
    assert(stale.isEmpty,
      s"stale BNLJ whitelist entries (plans improved?): ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** CONSTRUCTION-TIME SIDE-JOB plans of every gate query (r14): a
    * `Materialize.stable`/`pinnedFits` pin, a driver union-find collect,
    * or a model-fit job runs Spark jobs while the query FRAME is being
    * BUILT — plans the served `executedPlan` never contains. This is
    * exactly where the r14 line-dict SortAggregate demotion hid for six
    * rounds: the demoted aggregate executed inside the pinnedFits
    * side-job of every q192/q193/q195 call, invisible to the served-plan
    * sweep above. The burn-in pass (forcing [[allPlans]]) runs every
    * first-touch ensure* artifact build OUTSIDE the capture — cold builds
    * are [[BuilderPlanLintSpec]]'s jurisdiction with their own audited
    * whitelists; here we capture only the side jobs a WARM construction
    * repays on every call, which is what the gate actually executes.
    */
  private lazy val sideJobPlans: Seq[(String, Seq[String])] = {
    allPlans // burn-in: artifacts built, first-touch fits memoized
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plans = PlanLints.capture(spark) {
        try fn(spark, sf0001)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      graft.operators.Materialize.releaseAll()
      (name, plans)
    }
  }

  /** Side-job ObjectHashAggregates allowed per query — the same bound
    * duty as the served-plan whitelist above.
    */
  private val boundedSideJobObjectAggs = Map(
    "q27_label_centroids" -> "CentroidAgg fit side-job: dim-sized buffer (as served-plan q27)",
    "q124_centroid_affinity" -> "same CentroidAgg fit side-job as q27",
    "q66_heavy_hitters" -> ("count_min_sketch construction collect: the CMS " +
      "buffer is FIXED eps/conf-sized (~100 KB) regardless of stream length, " +
      "merged map-side — the sketch family's whole point (the q65/q67 " +
      "served-plan precedent)"))

  /** Side-job unpartitioned windows allowed per query — same bound duty
    * as [[boundedGlobalWindows]].
    */
  private val boundedSideJobWindows = Map(
    "q122_quality_fill" -> ("mixingAllocation collect: windows over the " +
      "source-cardinality allocation table — one row per source, the q103/" +
      "q134 served-plan bound"))

  test("no gate query's construction side-jobs demote, cartesian, or window-serialize") {
    val offenders = sideJobPlans.flatMap { case (name, plans) =>
      val bad = Seq.newBuilder[String]
      plans.zipWithIndex.foreach { case (p, i) =>
        if (PlanLints.hasCartesian(p)) bad += s"$name side-job[$i]: cartesian"
        if (PlanLints.sortAggregates(p) > 0)
          bad += s"$name side-job[$i]: SortAggregate (the r14 line-dict demotion class)"
        if (PlanLints.unguardedGlobalWindows(p) > 0 &&
            !boundedSideJobWindows.contains(name))
          bad += s"$name side-job[$i]: unguarded unpartitioned window"
      }
      val objAggs = plans.map(PlanLints.objectHashAggregates).sum
      if (objAggs > 0 && !boundedSideJobObjectAggs.contains(name))
        bad += s"$name: $objAggs side-job ObjectHashAggregate(s) not on the bounded whitelist"
      bad.result()
    }
    assert(offenders.isEmpty,
      offenders.mkString("\n") +
        "\n(side jobs run on EVERY warm construction of the query - fix the " +
        "demotion or add a justified bound, as for served plans)")
  }

  test("every unpartitioned window is WindowGroupLimit-guarded or provably bounded") {
    val offenders = allPlans.flatMap { case (name, plan) =>
      if (plan.startsWith("PLANFAIL")) Some(s"$name: $plan")
      else {
        val n = unguardedGlobalWindows(plan)
        if (n > 0 && !boundedGlobalWindows.contains(name))
          Some(s"$name: $n unguarded unpartitioned window(s)")
        else None
      }
    }
    assert(offenders.isEmpty,
      offenders.mkString("\n") +
        "\n(either restore the rank<=k WindowGroupLimit shape, restructure " +
        "to TakeOrderedAndProject, or add a justified bound to the whitelist)")
  }
}

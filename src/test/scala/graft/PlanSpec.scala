package graft

/** Plan-quality invariants (SURVEY.md §4.2): these lock in the physical-plan
  * properties the 100 TB design depends on, so a refactor that silently
  * breaks pushdown/broadcast/pruning fails CI, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  /** Shuffle-Exchange lines of a plan. Plan-tree lines carry connector
    * prefixes (`+- `, `:  `), so `trim.startsWith("Exchange")` never matches
    * anything — strip the connectors first. Matches `Exchange hashpartitioning`
    * / `rangepartitioning` / `SinglePartition` but NOT BroadcastExchange or
    * ReusedExchange (those don't start with "Exchange" after the strip).
    */
  private def shuffleExchanges(plan: String): Seq[String] =
    plan.linesIterator
      .filter(_.dropWhile("+-: *".contains(_)).startsWith("Exchange"))
      .toSeq

  /** The attribute sets actually CROSSING each shuffle exchange (the
    * exchange child's output). The plan-string `Exchange ...` line prints
    * only partitioning keys, so a string check can never see payload
    * columns — this walks the physical tree. AdaptiveSparkPlanExec is a
    * leaf to TreeNode traversal, so its inner plan is recursed explicitly.
    */
  private def shuffledAttrSets(
      df: org.apache.spark.sql.DataFrame): Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
      val here = p.collect { case e: ShuffleExchangeLike => e.child.output }
      val nested = p.collect { case a: AdaptiveSparkPlanExec => a }
        .flatMap(a => walk(a.executedPlan))
      here ++ nested
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Assert no shuffle exchange of `df`'s plan carries a column named
    * `banned` — the enforceable form of "X never shuffles". Name-based:
    * sound for the text contract because every operator consumes the
    * documents column under its source name `text` up to the scan-side
    * hash/tokenize (nothing aliases text before an exchange), but it
    * cannot see renamed copies — vector payloads use the TYPE-based
    * [[assertNoVectorShuffled]] for exactly that reason.
    */
  private def assertNeverShuffled(
      df: org.apache.spark.sql.DataFrame, name: String, banned: String): Unit = {
    val payloads = shuffledAttrSets(df)
    assert(payloads.nonEmpty, s"$name: no shuffle exchange found — matcher broken?")
    payloads.foreach(attrs =>
      assert(!attrs.exists(_.name == banned),
        s"$name shuffles the $banned column: ${attrs.map(_.name).mkString(", ")}"))
  }

  private def assertNeverShuffled(name: String, banned: String): Unit =
    assertNeverShuffled(SparkEntry.queries(name)(spark, sf001), name, banned)

  /** Assert no shuffle exchange of `name`'s plan carries ANY float/double
    * array attribute, whatever its name — a renamed embedding copy (the
    * scaffold's `qv`, a truncated matryoshka slice) crossing an exchange
    * must fail this test, so a dropped broadcast hint or an AQE demotion
    * to a shuffle join cannot pass under an alias.
    */
  private def assertNoVectorShuffled(name: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val payloads = shuffledAttrSets(SparkEntry.queries(name)(spark, sf001))
    assert(payloads.nonEmpty, s"$name: no shuffle exchange found — matcher broken?")
    payloads.foreach(attrs =>
      attrs.foreach(a => a.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          fail(s"$name shuffles a vector column ${a.name}: " +
            attrs.map(x => s"${x.name}:${x.dataType.simpleString}").mkString(", "))
        case _ => ()
      }))
  }

  test("no gate query plans a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("q02 broadcasts the dimension chain into the lineitem scan") {
    val plan = planOf("q02_revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join should not shuffle:\n$plan")
  }

  /** Every FileScan location under a BroadcastExchange build side — the
    * physical-tree form of "what do we broadcast?". The r14 sweep found
    * q02/q07 broadcasting the FACT table (the pruned fact scan estimated
    * below the dim-chain's join-stats product) and the PQ-family rerank
    * broadcasting the corpus vectors; these locks keep both inversions
    * fixed.
    */
  private def broadcastScanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    // Execute first (collect, not count — count would execute a derived
    // plan and leave df's own stages unbuilt): the locks must assert the
    // FINAL adaptive plan, where an AQE runtime join-strategy change that
    // broadcasts the fact/corpus side actually shows up (r15, the r14
    // advisory).
    df.collect()
    broadcastScanPaths(df.queryExecution.executedPlan)
  }

  private def broadcastScanPaths(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.{CoalesceExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, UnionExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    // UNREDUCED reachability only: follow pure row-preserving nodes from
    // the broadcast build side; any aggregate/limit/window/join en route
    // means the broadcast frame is a REDUCTION of the scan (a k1 candidate
    // set deriving from the vector table is fine — broadcasting the table
    // itself is not). Row-preserving includes sorts, coalesces, unions,
    // exchanges, and the AQE stage/reuse wrappers (r15, the r14 advisory):
    // without those a fact scan reaching the broadcast through a
    // ReusedExchange or query stage silently returned Nil and passed.
    def unreducedScans(p: SparkPlan): Seq[String] = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case r: ReusedExchangeExec => unreducedScans(r.child)
      case q: QueryStageExec => unreducedScans(q.plan)
      case _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
           _: InputAdapter | _: WholeStageCodegenExec | _: SortExec |
           _: CoalesceExec | _: UnionExec | _: AQEShuffleReadExec |
           _: ShuffleExchangeLike =>
        p.children.flatMap(unreducedScans)
      case _ => Nil
    }
    def walk(p: SparkPlan): Seq[String] = {
      val here = p.collect { case b: BroadcastExchangeLike => unreducedScans(b.child) }.flatten
      val nested = p.collect { case a: AdaptiveSparkPlanExec => a }
        .flatMap(a => walk(a.executedPlan))
      here ++ nested
    }
    walk(plan)
  }

  test("fact tables are never the broadcast side (r14 q02/q07 inversion lock)") {
    Seq("q02_revenue_by_nation" -> "lineitem", "q07_rollup_revenue" -> "orders")
      .foreach { case (q, fact) =>
        val paths = broadcastScanPaths(SparkEntry.queries(q)(spark, sf001))
        assert(!paths.exists(_.contains(fact)),
          s"$q broadcasts the fact table $fact: ${paths.mkString(", ")}")
      }
  }

  test("quantized-ANN rerank broadcasts candidates, never the vector table (r14 lock)") {
    // The flat + indexed paths of all three quantizer families share
    // Knn.rerank; one gate per shape keeps the lock cheap. The tail runs
    // when the search is called: the fetch re-runs a prepared (vec_id,
    // embedding) scan of the corpus vectors with no join, the k1
    // candidates riding its tasks, and no plan of the call may broadcast
    // the corpus vector table.
    Seq("q90_sq8_ann", "q71_pq_ann_indexed", "q155_bq_ann").foreach { q =>
      val plans = callPlans(q)
      assert(plans.map(_.toString).exists(p => p.contains("embeddings") &&
          p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>") && !p.contains("Join")),
        s"$q: no candidate fetch from the vector table:\n${plans.mkString("\n\n")}")
      val paths = plans.flatMap(broadcastScanPaths)
      assert(!paths.exists(_.contains("embeddings")),
        s"$q broadcasts the corpus vector table: ${paths.mkString(", ")}")
    }
  }

  test("lexical scorers serve df from the term dictionary, one postings probe (r14)") {
    // Before r14 the df leg re-aggregated the postings probe: two pushed
    // store scans per query that ReuseExchange could not dedup. df now
    // comes from the vocab store (ES's own idf-from-segment-statistics
    // shape), leaving exactly one postings probe in the plan.
    Seq("q61_tfidf_search", "q62_bm25_scores", "q167_dis_max").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("graft-vocab-"),
        s"$q does not probe the term dictionary for df:\n$plan")
      val postingsScans = plan.linesIterator
        .count(l => l.contains("FileScan") && l.contains("graft-postings-"))
      assert(postingsScans == 1,
        s"$q plans $postingsScans postings probes (want 1):\n$plan")
    }
  }

  test("q02 prunes lineitem to the three needed columns") {
    val plan = planOf("q02_revenue_by_nation")
    val scan = plan.linesIterator.filter(_.contains("FileScan"))
      .find(_.contains("lineitem")).getOrElse(fail("no lineitem scan"))
    assert(scan.contains("l_suppkey") && scan.contains("l_extendedprice"))
    assert(!scan.contains("l_shipdate") && !scan.contains("l_quantity"),
      s"lineitem scan reads unneeded columns: $scan")
  }

  test("q05 pushes the status filter into the orders scan") {
    val plan = planOf("q05_anti_join_customers")
    val scan = plan.linesIterator.filter(_.contains("FileScan"))
      .find(_.contains("orders")).getOrElse(fail("no orders scan"))
    assert(scan.contains("o_orderstatus"), scan)
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(o_orderstatus,P)"), s"filter not pushed:\n$plan")
  }

  test("q49 doc-get pushes the id equality into the documents scan") {
    val plan = planOf("q49_doc_get")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(doc_id,42)"),
      s"point-lookup filter not pushed:\n$plan")
  }

  test("q196 semantic decontamination: eval matrix broadcasts, no vector shuffles") {
    assertNoVectorShuffled("q196_semantic_decontamination")
  }

  test("q194 span increment: windows travel as digests, text never shuffles") {
    // every exchange is batch-bounded (the batch digest window, the hit
    // dedup, the per-doc summary) or a broadcast; corpus text is never read
    // and batch text never crosses an exchange
    assertNeverShuffled("q194_span_increment", "text")
  }

  test("cross-doc line dedup family: lines travel as digests, text never shuffles") {
    // at fixture scale the corpus-derived dictionary sits far under
    // [[Text.LineDictBroadcastMaxRows]], so the size gate must pick the
    // broadcast fast path (the over-ceiling equi-join fallback is pinned
    // result-identical in TextSpec)
    val p192 = planOf("q192_crossdoc_line_dedup")
    assert(p192.contains("BroadcastHashJoin"),
      s"fixture-scale line dictionary should broadcast:\n$p192")
    val p193 = planOf("q193_crossdoc_line_rewrite")
    assert(p193.contains("BroadcastHashJoin"),
      s"fixture-scale removal map should broadcast:\n$p193")
    assertNeverShuffled("q192_crossdoc_line_dedup", "text")
    // q193's only text-bearing movement is the presentation sort of its own
    // affected-docs OUTPUT (kept_text); the source text column never
    // crosses an exchange — the dictionary and the removal map broadcast.
    assertNeverShuffled("q193_crossdoc_line_rewrite", "text")
    assertNeverShuffled("q195_line_dedup_increment", "text")
  }

  test("q197 gram novelty: grams travel as digest pairs, text never shuffles") {
    assertNeverShuffled("q197_gram_novelty", "text")
  }

  test("q208 novelty increment: store probe keeps text out of every exchange") {
    assertNeverShuffled("q208_novelty_increment", "text")
  }

  test("banding pair mining: spread pins the bucket exchange, same pairs (r15 q77)") {
    import org.apache.spark.sql.functions.col
    // synthetic band table with dense buckets so the self-join has fanout
    val bands = spark.range(0, 200)
      .select(col("id").as("doc_id"),
        (col("id") % 3).cast("int").as("band"),
        (col("id") % 7).as("bh"))
    val spreadDf = graft.operators.Text.bandCandidatePairs(bands, spread = true)
    val plainDf = graft.operators.Text.bandCandidatePairs(bands, spread = false)
    val spreadRows = spreadDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the executed plan must carry the user-pinned bucket exchange — AQE's
    // byte-based coalescing may not collapse the mining join to one task
    // (REPARTITION_BY_NUM is exempt from coalescing; ENSURE_REQUIREMENTS
    // is not, which is exactly what the spread repairs)
    val plan = spreadDf.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"spread mining lost its pinned bucket exchange:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("REPARTITION_BY_NUM") && l.contains("band")),
      s"pinned exchange is not keyed on the band bucket:\n$plan")
    // spread is a physical-layout hint only: pair sets must be identical
    val plainRows = plainDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spreadRows == plainRows,
      "spread changed the mined pair set")
  }

  test("q191 rare terms pushes the doc-count ceiling into the vocab store scan") {
    val plan = planOf("q191_rare_terms")
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(n_docs,300)"),
      s"rare-terms ceiling not pushed into the dictionary scan:\n$plan")
    // dictionary probe, never a corpus re-explode: no documents scan at all
    assert(!plan.contains("documents"), s"rare terms re-read the corpus:\n$plan")
  }

  test("knn exact never reads the label column") {
    val plan = planOf("q20_knn_exact")
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(s => assert(!s.contains("label"), s"label not pruned: $s"))
  }

  test("top-k windows use WindowGroupLimit (partial top-k pushdown)") {
    val plan = planOf("q09_top_orders_per_customer")
    assert(plan.contains("WindowGroupLimit"), s"rank filter not pushed:\n$plan")
  }

  test("fixed per-source sample pushes the rank limit below the shuffle") {
    val plan = planOf("q99_fixed_sample")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=n not pushed; the exchange carries the corpus:\n$plan")
  }

  test("quality budget fill bounds the rank window with the max-alloc literal") {
    val plan = planOf("q122_quality_fill")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=maxAlloc literal not pushed; source shards sort whole:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"allocation table should broadcast:\n$plan")
    assertNeverShuffled("q122_quality_fill", "text")
  }

  test("importance select: score table broadcasts; corpus text never shuffles") {
    val plan = planOf("q121_importance_select")
    assert(plan.contains("BroadcastHashJoin"),
      s"token-score table should broadcast into the scoring join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"budget cut should be a bounded top-k, not a global sort:\n$plan")
    assertNeverShuffled("q121_importance_select", "text")
  }

  test("cluster keywords: top-n pushed as WindowGroupLimit; text never shuffles") {
    val plan = planOf("q126_cluster_keywords")
    assert(plan.contains("WindowGroupLimit"), s"rank<=n not pushed:\n$plan")
    // The gate pins the (cluster, token) aggregate (localCheckpoint
    // truncates lineage), so the text contract must be asserted on the
    // UN-pinned corpus subtree — the outer plan cannot see it.
    assertNeverShuffled(
      graft.operators.Curation.clusterTokenCounts(spark, sf001),
      "q126_cluster_keywords(inner)", "text")
  }

  test("token drift: vocabulary-table cut is a bounded top-k; text never shuffles") {
    val plan = planOf("q127_token_drift")
    assert(plan.contains("TakeOrderedAndProject"),
      s"drift cut should be a bounded top-k, not a global sort:\n$plan")
    // same pinning caveat as q126: assert on the un-pinned snapshot
    // aggregate, which is where document text could meet an exchange
    assertNeverShuffled(
      graft.operators.Curation.snapshotTokenCounts(
        Tables.documents(spark, sf001), "old"),
      "q127_token_drift(inner)", "text")
  }

  test("quality-aware dedup pushes rank-1 below the shuffle; text never shuffles") {
    val plan = planOf("q100_dedup_best")
    assert(plan.contains("WindowGroupLimit"), s"rank=1 not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"trust table should broadcast:\n$plan")
    // the digest-group exchange must carry hashes, never the text column —
    // checked on the tree (exchange child output), not the plan string,
    // which only prints partitioning keys
    assertNeverShuffled("q100_dedup_best", "text")
  }

  test("global top-10 uses TakeOrderedAndProject, not a full sort") {
    val plan = planOf("q12_global_top_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q118 filtered knn: the label predicate reaches the parquet scan") {
    val plan = planOf("q118_knn_filtered")
    val scan = plan.linesIterator.filter(_.contains("FileScan"))
      .find(_.contains("PushedFilters: [In(label")).orElse(
        plan.linesIterator.filter(_.contains("FileScan"))
          .find(_.contains("label")))
    assert(scan.exists(_.contains("In(label")),
      s"label filter not pushed to the scan:\n$plan")
  }

  test("q116 length anomalies: 1-row fit broadcasts, top-k never full-sorts") {
    val plan = planOf("q116_length_anomalies")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"OLS fit row should broadcast into the residual map:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k |residual| should not full-sort the corpus:\n$plan")
  }

  test("q117 corpus delta: the full-outer diff shuffles digests, never text") {
    assertNeverShuffled("q117_corpus_delta", "text")
  }

  /** Executed plans of the actions a gate query's construction runs, on
    * its second build (the first builds its index). The indexed LSH and
    * quantized searches run their probe and fetch jobs when called and
    * return a local frame, so their scans live in these plans, not in the
    * served frame's.
    */
  private def callPlans(name: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    SparkEntry.queries(name)(spark, sf001)
    PlanLints.executedPlans(spark)(SparkEntry.queries(name)(spark, sf001))
  }

  /** The postings probe and the vectors fetch of an indexed LSH search
    * (a stored-id search's GET re-runs the fetch's plan).
    */
  private def probeAndFetch(name: String): (String, String) = {
    val plans = callPlans(name).map(_.toString).distinct
    def scanning(what: String) = plans.filter(_.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains(what)))
    val probe = scanning("postings")
    val fetch = scanning("vectors")
    assert(probe.length == 1 && fetch.length == 1,
      s"$name: expected one postings probe and one vectors fetch:\n${plans.mkString("\n\n")}")
    (probe.head, fetch.head)
  }

  /** Tasks and input rows of each job `body` runs, with its description. */
  private def jobReads(body: => Any): Seq[(String, Int, Long)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Seq[Int])]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((e.jobId,
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull, e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(
        (e.stageId, Option(e.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)))
    }
    org.apache.spark.sql.graft.TestBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.TestBus.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    val ran = tasks.asScala.toSeq
    jobs.asScala.toSeq.sortBy(_._1).map { case (_, description, stages) =>
      val mine = ran.filter(t => stages.contains(t._1))
      (description, mine.size, mine.map(_._2).sum)
    }
  }

  test("lsh knn probes posting lists with no join and no query side in the plan") {
    // the probe keys, candidate ids and query vectors ride the jobs' tasks
    Seq("q23_lsh_knn", "q28_lsh_multiprobe", "q166_knn_by_vector").foreach { q =>
      val (probe, fetch) = probeAndFetch(q)
      Seq(probe, fetch).foreach { plan =>
        assert(!plan.contains("Join"), s"$q: $plan")
        assert(!plan.contains("CartesianProduct"), s"$q: $plan")
        assert("""(^|\s)Filter\s""".r.findFirstIn(plan).isEmpty && !plan.contains("INSET"), s"$q: $plan")
        val scan = plan.linesIterator.find(_.contains("FileScan")).get
        assert(scan.contains("PartitionFilters: []") && scan.contains("PushedFilters: []"), s"$q: $scan")
      }
    }
  }

  test("indexed search fetches candidates by id; no embedding crosses an exchange") {
    Seq("q23_lsh_knn", "q28_lsh_multiprobe", "q166_knn_by_vector").foreach { q =>
      val (probe, fetch) = probeAndFetch(q)
      val scan = fetch.linesIterator.filter(_.contains("FileScan"))
        .find(_.contains("vectors")).get
      assert(scan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), s"$q: $scan")
      assert(!probe.contains("embedding"), s"$q: $probe")
      // the stronger form: neither job has an exchange at all
      Seq(probe, fetch).foreach(plan => assert(!plan.contains("Exchange"), s"$q: $plan"))
    }
    // By id: the GET and the fetch run only the vectors partitions whose
    // vec_id range holds a wanted id. Appended copies of ids < 50, all
    // deleted, sit in a second file and partition no search wants.
    import graft.operators.{Index, Knn, Lsh}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-byid").toString
    Index.build(spark, emb, Lsh.fit(emb, tables = 8, bits = 3), dir)
    Index.append(spark, dir, emb.filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 100000L))
    Index.delete(spark, dir, (100000L until 100050L))
    assert(spark.read.parquet(s"$dir/vectors").rdd.getNumPartitions == 2)
    Knn.searchIndex(spark, dir, 8, 100, 10).collect()
    val jobs = jobReads(Knn.searchIndex(spark, dir, 8, 100, 10))
    Seq("Knn.get", "Knn.fetch").foreach { d =>
      assert(jobs.filter(_._1 == d).map(_._2) == Seq(1), s"$d tasks: $jobs")
    }
  }

  test("indexed ivf prunes the cell scan to the probed partitions") {
    // The lossless prune (a row's cell is the directory it lies under),
    // applied at the job: one query probes 4 of the 16 cells, and the scan
    // runs only the file partitions holding a probed cell directory and
    // reads exactly the rows under those directories.
    import graft.operators.Vectors
    import org.apache.spark.sql.functions.col
    val dir = Vectors.ensureIvfIndex(spark, sf0001)
    val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val probed = Vectors.loadCentroids(spark, s"$dir/centroids").nearestArray(q, 4)
    val cells = spark.read.parquet(s"$dir/cells")
    val probedRows = cells.filter(col("cell").isin(probed.toSeq: _*)).count()
    val dirs = cells.select("cell").distinct().count()
    assert(dirs > probed.length, s"$dirs non-empty cell directories, ${probed.length} probed")
    Vectors.annIvfIndexed(spark, sf0001, queryMaxId = 1).collect()
    val scans = jobReads(Vectors.annIvfIndexed(spark, sf0001, queryMaxId = 1))
      .filter(_._1 == "Vectors.annIvfIndexed")
    assert(scans.length == 1, scans)
    val (_, tasks, rowsRead) = scans.head
    assert(tasks >= 1 && tasks <= probed.length, s"$tasks tasks for ${probed.length} probed cells")
    assert(rowsRead == probedRows, s"the scan read $rowsRead rows; the probed cell dirs hold $probedRows")
  }

  test("indexed search prunes postings partitions to the probe keys") {
    // The lossless prune (pkey is a function of the probe key), applied at
    // the job: on a 64-directory index a probe runs only the file
    // partitions holding a probed pkey directory and reads exactly the
    // files under those directories.
    import graft.operators.{Index, Knn, Lsh}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-prune").toString
    Index.build(spark, emb, model, dir, numBuckets = 64)
    val q = emb.filter(col("vec_id") === 3L).select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val probed = model.hashVector(q).zipWithIndex.map { case (h, t) => Index.pkeyOf(t, h, 64) }.distinct
    val postings = spark.read.parquet(s"$dir/postings")
    val probedRows = postings.filter(col(Index.PKeyCol).isin(probed.toSeq: _*)).count()
    val dirs = postings.select(Index.PKeyCol).distinct().count()
    assert(dirs > probed.length, s"$dirs non-empty pkey directories, ${probed.length} probed")
    Knn.searchIndexByVector(spark, dir, q, 100, 10).collect()
    val probes = jobReads(Knn.searchIndexByVector(spark, dir, q, 100, 10)).filter(_._1 == "Knn.probe")
    assert(probes.length == 1, probes)
    val (_, tasks, rowsRead) = probes.head
    assert(tasks >= 1 && tasks <= probed.length, s"$tasks tasks for ${probed.length} probed pkeys")
    assert(rowsRead == probedRows, s"the probe read $rowsRead rows; the probed pkey dirs hold $probedRows")
  }

  test("a warm indexed probe runs one task per scan partition, not one per probed directory") {
    // Each pkey directory is a resident block; a scan partition packs
    // several, and one task reads all of its partition's probed blocks.
    import graft.operators.{Index, Knn, Lsh}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 4, bits = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-tasks").toString
    Index.build(spark, emb, model, dir, numBuckets = 64)
    val queries = emb.filter(col("vec_id") < 8L).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val probed = queries.flatMap(model.hashVector(_).zipWithIndex.map { case (h, t) => Index.pkeyOf(t, h, 64) })
      .distinct
    val postings = spark.read.parquet(s"$dir/postings")
    val splits = postings.rdd.getNumPartitions
    assert(probed.length > splits, s"${probed.length} probed pkeys, $splits scan partitions")
    val probedRows = postings.filter(col(Index.PKeyCol).isin(probed.toSeq: _*)).count()
    Knn.searchIndex(spark, dir, queryMaxId = 8, 100, 10).collect()
    val probes = jobReads(Knn.searchIndex(spark, dir, queryMaxId = 8, 100, 10)).filter(_._1 == "Knn.probe")
    assert(probes.length == 1, probes)
    val (_, tasks, rowsRead) = probes.head
    assert(tasks >= 1 && tasks <= splits, s"$tasks tasks for ${probed.length} probed pkeys in $splits partitions")
    assert(rowsRead == probedRows, s"the probe read $rowsRead rows; the probed pkey dirs hold $probedRows")
  }

  test("tfidf joins the tiny idf table by broadcast, not a shuffle join") {
    val plan = planOf("q61_tfidf_search")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("lexical scoring family is index-served: pushed term probes, no text read") {
    // r10: the tf/df legs read the positional postings store (pushed
    // In(term,…) — row-group pruned on the term-sorted layout) and BM25's
    // length legs read the norms store; document text never reaches a scan.
    Seq("q61_tfidf_search", "q62_bm25_scores", "q146_search_after",
      "q167_dis_max", "q168_boosting", "q152_function_score",
      "q165_collapse").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("In(term"),
        s"$q must probe the postings store with a pushed term filter:\n$plan")
      assert(!plan.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("text")),
        s"$q must not read document text:\n$plan")
    }
  }

  test("q146 cursor is two stacked TakeOrderedAndProjects, no aggregate") {
    // r13: the keyset cursor (page 1's last row) was a min(struct(...))
    // whose struct buffer demoted to SortAggregate (the ArgMinLong defect
    // class, caught by the PlanLintSpec aggregate sweep). The fixed shape:
    // the top-pageSize TakeOrderedAndProject feeds a REVERSED 1-row
    // TakeOrderedAndProject — no aggregate anywhere in the cursor, and
    // the after-predicate side stays a broadcast of that 1-row frame.
    val plan = planOf("q146_search_after")
    assert(plan.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
      s"q146 lost a TakeOrderedAndProject stage:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"q146 cursor demoted to SortAggregate again:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"), plan)
  }

  test("decontamination broadcasts the eval grams; train grams never shuffle") {
    val plan = planOf("q80_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"train-side grams must not shuffle for the join:\n$plan")
  }

  test("stratified sample broadcasts the mixing-rate table") {
    val plan = planOf("q81_stratified_sample")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"rate table should broadcast:\n$plan")
  }

  test("train split is a single aggregation pass — no join, no extra shuffle") {
    val plan = planOf("q70_train_split")
    assert(!plan.contains("Join"), s"split should not join:\n$plan")
    assert(shuffleExchanges(plan).size <= 2,
      s"split should shuffle once for the aggregate (plus AQE reads):\n$plan")
  }

  test("funnel is two aggregates and zero joins") {
    val plan = planOf("q73_funnel")
    assert(!plan.contains("Join"), s"funnel should not join:\n$plan")
  }

  test("clean corpus: stats are one codegen pass; only digests shuffle; text pruned after hash") {
    val plan = planOf("q83_clean_corpus")
    // the per-doc quality counters run as the rep_stats expression inside
    // the scan projection — no explode, no corpus-wide distinct
    assert(plan.contains("rep_stats"), s"q83 lost the one-pass counters:\n$plan")
    assert(!plan.contains("Generate"), s"q83 explodes the corpus:\n$plan")
    // the canon aggregate groups by the 40-byte digest pair, never the text
    assert(plan.contains("xxhash64") && plan.contains("sha2"), plan)
  }

  test("kmeans gate: assignment is a narrow map over broadcast-small centroid stats") {
    val plan = planOf("q84_kmeans_clusters")
    // one broadcast join (k-row centroid table) is allowed; no SMJ, no
    // cartesian, no window — the corpus-side work is scan + project + agg
    assert(!plan.contains("SortMergeJoin"), s"q84 shuffles a corpus join:\n$plan")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("nearest_cells"), s"q84 lost the codegen argmin:\n$plan")
  }

  test("semantic near-dups: the pair join is an equi-join on cell, never a cross product") {
    val plan = planOf("q85_semantic_neardups")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"q85 plans an all-pairs product:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"q85 sorts the full pair set:\n$plan")
  }

  test("sequence packing: corpus-row window is blocked — no per-source serial scan") {
    val plan = planOf("q86_pack_sequences")
    // Two-level prefix sum: every window ordered by doc_id (corpus rows)
    // must partition by (source, block) so no single source shard
    // serializes; the only per-source-only window is the offset prefix over
    // the tiny one-row-per-block totals (ordered by block, not doc_id).
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"q86 lost its windows:\n$plan")
    val corpusWindows = windows.filter(_.contains("doc_id"))
    assert(corpusWindows.nonEmpty, s"no doc_id-ordered window:\n$plan")
    corpusWindows.foreach(w =>
      assert(w.contains("block"),
        s"corpus window not blocked (per-source serialization): $w"))
    // The offset table rejoins by broadcast — the corpus side never
    // re-shuffles for the join.
    assert(plan.contains("BroadcastHashJoin"), s"offset join should broadcast:\n$plan")
    // Exchange budget: corpus window on (source, block); block-totals agg;
    // tiny offsets window; final (source, bin) agg; presentation sort.
    // Only the first is corpus-sized.
    val exchanges = shuffleExchanges(plan)
    assert(exchanges.nonEmpty, s"matcher broken — q86 must shuffle for its windows:\n$plan")
    assert(exchanges.size <= 5, s"q86 shuffles beyond the two-level plan:\n$plan")
  }

  test("prepare-corpus composition: document text never crosses an exchange") {
    val plan = planOf("q101_prepare_corpus")
    assertNeverShuffled("q101_prepare_corpus", "text")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bpe encode is a narrow map: only the presentation sort shuffles") {
    val plan = planOf("q102_bpe_encode")
    assert(shuffleExchanges(plan).size <= 1,
      s"encode should not shuffle before the sort:\n$plan")
    assert(!plan.contains("Join"), s"encode should not join:\n$plan")
  }

  test("source mixing: one corpus aggregate, no join, tiny windows after") {
    val plan = planOf("q103_source_mixing")
    assert(!plan.contains("Join"), s"mixing should not join:\n$plan")
    // corpus-sized: the source-count aggregate's exchange. The whole-frame
    // windows and sort run on source-cardinality rows.
    assert(plan.contains("HashAggregate"), plan)
  }

  test("corpus datasheet: document text never crosses an exchange") {
    // build the (expensive) datasheet plan once; reuse it for both checks
    val df = SparkEntry.queries("q104_corpus_datasheet")(spark, sf001)
    assertNeverShuffled(df, "q104_corpus_datasheet", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q104 plans a cartesian:\n$plan")
  }

  test("stored-increment dedup: text never shuffles; store digests cross only the hit dedup") {
    val df = SparkEntry.queries("q107_dedup_increment_stored")(spark, sf001)
    assertNeverShuffled(df, "q107_dedup_increment_stored", "text")
    // the store side streams through the broadcast semi probe; the ONE
    // exchange allowed to carry store digests is the hit-dedup distinct,
    // whose payload must be exactly the 40-byte digest pair (map-side
    // combined to ≤|batch distinct| rows per partition) — never doc payload
    val shExchanges = shuffledAttrSets(df).filter(_.exists(_.name == "sh64"))
    assert(shExchanges.size <= 1,
      s"store digests cross ${shExchanges.size} exchanges")
    shExchanges.foreach(attrs =>
      assert(attrs.map(_.name).toSet == Set("sh64", "sh256"),
        s"hit-dedup exchange carries extra payload: ${attrs.map(_.name)}"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q107 joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q107 shuffles a corpus-sized join side:\n$plan")
    // batch canonical groupBy + hit dedup + survivor presentation sort only
    assert(shuffleExchanges(plan).size <= 3,
      s"q107 shuffles beyond the batch-bounded trio:\n$plan")
  }

  test("near-dup increment: the band store streams through a broadcast probe") {
    val df = SparkEntry.queries("q109_neardup_increment")(spark, sf001)
    // store-side band hashes and document text must never cross a shuffle:
    // candidates come from a broadcast of the batch bands into the store
    // scan, and the corpus text read is pruned to candidate ids by a
    // broadcast semi-join before tokenization
    assertNeverShuffled(df, "q109_neardup_increment", "sbh")
    assertNeverShuffled(df, "q109_neardup_increment", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q109 probes must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q109 plans a cartesian:\n$plan")
  }

  test("training order: one shard exchange reused by the aggregate; scan prunes text") {
    val plan = planOf("q111_training_order")
    val ex = shuffleExchanges(plan)
    // hash partition BY SHARD feeding the window (and reused by the
    // groupBy, which aggregates on the same key) + the presentation sort —
    // the permutation never globally sorts and never single-partitions
    assert(ex.size <= 2, s"q111 shuffles beyond shard partition + sort:\n$plan")
    assert(!ex.exists(_.contains("SinglePartition")),
      s"q111 plans a single-partition exchange:\n$plan")
    val scan = plan.linesIterator.filter(_.contains("FileScan"))
      .find(_.contains("documents")).getOrElse(fail("no documents scan"))
    assert(!scan.contains("text"), s"q111 reads the text column: $scan")
  }

  test("decontamination increment: delivery text never shuffles; the gram store broadcasts") {
    val df = SparkEntry.queries("q113_decontaminate_increment")(spark, sf001)
    assertNeverShuffled(df, "q113_decontaminate_increment", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q113 store probe must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q113 shuffles a delivery-sized join side:\n$plan")
    // store-dedup distinct + countDistinct agg pair + presentation sort
    assert(shuffleExchanges(plan).size <= 4,
      s"q113 shuffles beyond the store-dedup + agg + sort budget:\n$plan")
  }

  test("denylist redaction is a narrow map: no join, only the presentation sort shuffles") {
    val plan = planOf("q108_redact_denylist")
    assert(!plan.contains("Join"), s"redaction should not join:\n$plan")
    assert(shuffleExchanges(plan).size <= 1,
      s"redaction should not shuffle before the sort:\n$plan")
    assert(!plan.contains("Generate"), s"redaction should not explode:\n$plan")
  }

  test("no corpus-text gate ever shuffles the text column; exact knn never shuffles embeddings") {
    // The scale contract of the whole dedup/cleaning family: document text
    // is hashed/tokenized in the scan and only digests/ids/stats cross
    // exchanges. Enforced on exchange child outputs, not plan strings.
    Seq(
      "q32_exact_dedup", "q39_dedup_corpus", "q77_shingle_neardups",
      "q78_neardedup_corpus", "q83_clean_corpus", "q106_dedup_increment",
      "q114_duplicated_spans",
      // quality deciles: only (source, doc_id, q_ppm) feeds the rank window
      "q132_quality_deciles",
      // dup attribution: only (digest, source, cnt) rows cross exchanges
      "q135_dup_attribution",
      // fusion: only (source, doc_id, 3 integer signals) feed the windows
      "q136_quality_fusion")
      .foreach(assertNeverShuffled(_, "text"))
    // the multimodal twin: binary payloads digest in the scan, never shuffle
    assertNeverShuffled("q138_media_dedup", "payload")
    // The exact-kNN family broadcasts the query side and scores in the
    // scan projection; only (ids, score) rows reach the rank shuffle. The
    // indexed LSH searches (q23/q28) plan no exchange at all, locked by
    // "indexed search fetches candidates by id; no embedding crosses an
    // exchange", and neither does the indexed IVF search (q29), locked by
    // KnnJobsSpec's no-exchange check over every plan its call runs.
    // Scope: these are the QUERY-TIME plans — the one-off index/artifact
    // build jobs (ensure*Index) run as separate cached jobs whose
    // exchanges this test does not see. TYPE-based (any float/double
    // array), so a renamed copy (`qv`) cannot slip through under an alias.
    Seq(
      "q20_knn_exact", "q21_knn_cosine", "q95_knn_dot", "q105_matryoshka_knn",
      "q128_hard_negatives",
      // label eval: votes travel as (query_id, n_label) pairs; the norm
      // audit reduces each vector to an integer ppm inside the scan; drift
      // explodes to scaled longs before its (label, dim) exchange
      "q130_knn_label_eval", "q131_embedding_norms", "q137_centroid_drift",
      "q25_ann_ivf",
      "q110_semantic_increment",
      // seed-centroid scoring: the 1-row centroid moves by broadcast; the
      // corpus embedding is scored in the scan projection and only
      // (vec_id, label, affinity) reaches the top-k
      "q124_centroid_affinity",
      // pair mining: only (tbl, hash, vec_id) crosses the co-partitioning
      // exchange; verify-side embeddings move by broadcast only
      "q63_lsh_neardup_pairs")
      .foreach(assertNoVectorShuffled)
  }

  test("semantic increment prunes the store scan to the batch's cells") {
    val plan = planOf("q110_semantic_increment")
    val scan = plan.linesIterator.filter(_.contains("FileScan"))
      .find(_.contains("sembedding")).getOrElse(fail(s"no cell-store scan:\n$plan"))
    assert(scan.contains("PartitionFilters"), scan)
    assert(!scan.contains("PartitionFilters: []"),
      s"cell-store scan reads every partition: $scan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rrf fusion: both rank legs end in a bounded top-k, never a full sort") {
    val plan = planOf("q88_rrf_fusion")
    val takes = plan.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(takes >= 2, s"expected partial top-k on both legs:\n$plan")
  }

  test("chunking is a narrow generate: no shuffle before the presentation sort") {
    val plan = planOf("q87_chunk_documents")
    assert(shuffleExchanges(plan).size <= 1,
      s"q87 shuffles beyond the final sort:\n$plan")
  }

  test("coverage audit: both scans are id+source projections; no payload read") {
    // The reconciliation join must move ids, never text or vectors — the
    // difference between a metadata-sized exchange and re-shipping 100 TB.
    val plan = planOf("q133_embedding_coverage")
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.size == 2, s"expected two scans:\n$plan")
    val docScan = scans.find(_.contains("documents"))
      .getOrElse(fail(s"no documents scan:\n$plan"))
    val embScan = scans.find(_.contains("embeddings"))
      .getOrElse(fail(s"no embeddings scan:\n$plan"))
    assert(!docScan.contains("text"), s"coverage reads document text: $docScan")
    assert(!embScan.contains("embedding:"),
      s"coverage reads embedding payloads: $embScan")
  }

  /** The executed plan of the phase-1 scan an indexed quantized search
    * re-runs, and its `codes/` FileScan line.
    */
  private def codeScan(codec: graft.operators.Pq.Codec[_ <: AnyRef]): (String, String) = {
    def isCodeScan(l: String) = l.contains("FileScan") && l.contains("/codes")
    val plans = PlanLints.capture(spark)(graft.operators.Pq.annIndexed(spark, codec, sf0001))
    val scans = plans.filter(_.linesIterator.exists(isCodeScan))
    assert(scans.length == 1, s"expected one code scan:\n${plans.mkString("\n\n")}")
    assert(!scans.head.contains("Exchange"), scans.head)
    (scans.head, scans.head.linesIterator.find(isCodeScan).get)
  }

  test("pq adc scan reads only the 8-byte code column, never an embedding") {
    val (plan, scan) = codeScan(graft.operators.Pq.PQ())
    assert(scan.contains("codes:binary"), scan)
    assert(!scan.contains("embedding"), s"ADC scan reads embeddings: $scan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("selective fact-dim shuffle join takes a runtime bloom filter on the fact scan") {
    // At cluster scale a selective dim filter should prune the FACT scan at
    // runtime (Spark's runtime bloom filter), not just post-join — the scan
    // reduction that matters when lineitem is 100 TB. The fixture tables sit
    // below the default size thresholds and the dim side below the broadcast
    // threshold, so thresholds are floored to prove our join SHAPE is
    // eligible; at real scale the defaults fire on the same plan.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      import org.apache.spark.sql.functions._
      val orders = Tables.orders(spark, sf001).filter(col("o_totalprice") > 500000.0)
      val li = Tables.lineitem(spark, sf001)
      val plan = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter on the fact side:\n$plan")
      // The probe must sit on the FACT side, under the lineitem scan's join.
      assert(plan.linesIterator.exists(l =>
        l.contains("might_contain") && l.contains("l_orderkey")),
        s"bloom probe not keyed on the fact join key:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("sq8 scan reads only the 1-byte-per-dim code column, never an embedding") {
    val (plan, scan) = codeScan(graft.operators.Pq.SQ8)
    assert(scan.contains("codes:binary"), scan)
    assert(!scan.contains("embedding"), s"SQ8 scan reads embeddings: $scan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dictionary queries scan the vocab store, never the document corpus") {
    // fuzzy/suggest are term-dictionary probes: their plans must read the
    // persisted (term, n_hits, n_docs) store and never touch a text column.
    Seq(
      graft.operators.Retrieval.fuzzySearch(spark, sf0001),
      graft.operators.Retrieval.suggest(spark, sf0001)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft-vocab-"), s"no vocab store scan:\n$plan")
      assert(!plan.contains("text:string"),
        s"dictionary probe reads document text:\n$plan")
    }
    // significant terms: only the FOREGROUND leg may read documents; the
    // background frequencies come from the store.
    val sig = graft.operators.Retrieval.significantTerms(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(sig.contains("graft-vocab-"), s"no vocab store scan:\n$sig")
  }

  test("q161 media phash: binary payloads hash in the scan and never shuffle") {
    import org.apache.spark.sql.types.BinaryType
    val df = graft.operators.Media.mediaPhashNearDups(spark, sf001)
    val payloads = shuffledAttrSets(df)
    assert(payloads.nonEmpty, "q161: no shuffle exchange found — matcher broken?")
    payloads.foreach(attrs =>
      attrs.foreach(a => assert(a.dataType != BinaryType,
        s"q161 shuffles a binary payload ${a.name}: " +
          attrs.map(x => s"${x.name}:${x.dataType.simpleString}").mkString(", "))))
  }

  test("more-like-this is fully index-served: postings probes, no text read") {
    val plan = graft.operators.Retrieval.moreLikeThis(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-postings-"), s"no postings store scan:\n$plan")
    // the example profile is a pushed doc_id probe of the store
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(doc_id,7)")),
      s"example term-vector read not pushed:\n$plan")
    assert(!plan.contains("text:string"), s"MLT reads document text:\n$plan")
  }

  test("prefix search pushes StringStartsWith to the postings scan, no text") {
    val plan = graft.operators.Retrieval.prefixSearch(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-postings-"), s"no postings store scan:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("StringStartsWith(term,sl")),
      s"prefix not pushed to the posting scan:\n$plan")
    assert(!plan.contains("text:string"), s"prefix search reads text:\n$plan")
  }

  test("span first pushes term equality AND the position bound, no text") {
    val plan = graft.operators.Retrieval.spanFirst(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-postings-"), s"no postings store scan:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(term,join)") &&
        l.contains("LessThan(pos,8)")),
      s"term/pos predicates not pushed:\n$plan")
    assert(!plan.contains("text:string"), s"span first reads text:\n$plan")
  }

  test("match phrase prefix: both posting legs pushed, adjacency never touches text") {
    val plan = graft.operators.Retrieval.matchPhrasePrefix(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-postings-"), s"no postings store scan:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(term,join)")),
      s"anchor term not pushed:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("StringStartsWith(term,or")),
      s"completion prefix not pushed:\n$plan")
    assert(!plan.contains("text:string"),
      s"match phrase prefix reads text:\n$plan")
  }

  test("term vectors: pushed doc_id point probe + dictionary join, no text") {
    val plan = graft.operators.Retrieval.termVectors(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft-postings-") && plan.contains("graft-vocab-"),
      s"not served from postings + dictionary stores:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(doc_id,7)")),
      s"doc probe not pushed:\n$plan")
    assert(!plan.contains("text:string"), s"term vectors read text:\n$plan")
  }

  test("indexed phrase search reads pushed-filtered posting lists, not text") {
    val plan = graft.operators.Retrieval.phraseSearchIndexed(spark, sf0001)
      .queryExecution.executedPlan.toString
    // each phrase term's scan pushes its equality predicate to parquet
    assert(plan.contains("graft-postings-"), s"no postings store scan:\n$plan")
    Seq("join", "order").foreach { t =>
      assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains(s"EqualTo(term,$t)")),
        s"term '$t' not pushed to the posting scan:\n$plan")
    }
    assert(!plan.contains("text:string"),
      s"phrase probe reads document text:\n$plan")
  }

  test("bq scan reads only the one-long code column, never an embedding") {
    val (plan, scan) = codeScan(graft.operators.Pq.BQ)
    assert(scan.contains("code:bigint"), scan)
    assert(!scan.contains("embedding"), s"BQ scan reads embeddings: $scan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hierarchical assignment: broadcast coarse stages, equi-join candidates, no cartesian") {
    // The past-broadcast-budget path (r12 CeilingBench times it; this pins
    // its SHAPE): the only pair-stream joins are BROADCAST nested loops
    // against the bounded coarseK-row seed table — never a cartesian — and
    // the step-4 candidate join is an equi-join on the coarse cell, the
    // one exchange whose width scales with N.
    import graft.operators.Vectors
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cents = Vectors.seedCentroidsTable(emb, 16)
    val plan = Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"hierarchical plans a cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"coarse stages must broadcast the bounded seed table:\n$plan")
    // every nested-loop line is a Broadcast one (BuildRight/BuildLeft of
    // the coarseK-row side), so no unbounded side ever nest-loops
    val equiJoin = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)""".r
    assert(equiJoin.findFirstIn(plan).nonEmpty,
      s"step-4 candidate join must be an equi-join on ccell:\n$plan")
  }

  test("table assignment argmin is whole-stage hash aggregation, never object/sort agg") {
    // r12 FitProfile finding: an ARRAY-bearing min_by buffer
    // (min_by(struct(embedding, cell), ...)) disqualifies HashAggregate and
    // the N×k candidate stream falls back to object/sort aggregation —
    // measured as a 281 s sort of 3.3 G rows where the fixed-width form
    // (min_by(cell, ...) + embedding join-back) runs in codegen. Lock the
    // fix: every aggregate in both assignment plans is a HashAggregate
    // except the probe stage's bounded collect_list (nprobe 16-byte
    // structs — inherently ObjectHashAggregate, embedding-free).
    import graft.operators.Vectors
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cents = Vectors.seedCentroidsTable(emb, 16)
    val flatPlan = Vectors.assignCellsWithTable(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!flatPlan.contains("SortAggregate"),
      s"flat assignment argmin fell back to sort aggregation:\n$flatPlan")
    assert(!flatPlan.contains("ObjectHashAggregate"),
      s"flat assignment argmin fell back to object aggregation:\n$flatPlan")
    assert(flatPlan.contains("HashAggregate"), flatPlan)
    val hierPlan = Vectors.assignCellsHierarchical(emb, cents, coarseK = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!hierPlan.contains("SortAggregate"),
      s"hierarchical argmin fell back to sort aggregation:\n$hierPlan")
    val objAggs = hierPlan.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs <= 2, // partial+final of the one bounded collect_list stage
      s"hierarchical plans $objAggs object aggregates (expected only the probe collect_list):\n$hierPlan")
  }
}

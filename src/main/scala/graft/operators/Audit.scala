package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.graft.VectorExpressions

/** Corpus/embedding-store AUDIT operators — the cheap invariants a pipeline
  * checks BEFORE spending compute on indexing, dedup, or training (SURVEY §2
  * LLM-pipeline mandate: at 100 TB a silent contract violation — an
  * unnormalized vector batch, an embedding job that skipped a shard — costs a
  * full re-run of everything downstream, so the audits that catch it must be
  * first-class operators, not ad-hoc notebooks):
  *
  *   - [[embeddingNorms]] (q131): per-label unit-norm conformance — cosine
  *     search, SemDeDup thresholds, and centroid math all assume unit
  *     vectors; a model drop that ships raw (unnormalized) vectors skews
  *     every similarity silently.
  *   - [[embeddingCoverage]] (q133): doc↔vector alignment — documents with
  *     no embedding row (semantic dedup silently skips them) and orphan
  *     vectors with no document (stale embeddings of deleted docs that still
  *     win candidate slots).
  *
  * Determinism discipline (repo-wide): norms are integer-ppm via
  * floor-of-identical-IEEE-expression on both engines; counts are exact
  * integer sums; no float crosses an oracle compare.
  */
object Audit {

  // ---------------------------------------------------------------- q131

  /** q131 — EMBEDDING NORM AUDIT: per-label vector count, min/max L2 norm
    * (integer ppm), and the number of vectors violating the unit-norm
    * contract by more than `tolPpm`. The norm is computed as
    * `floor(sqrt(dot(v,v)) · 1e6)`: the dot product is the same codegen
    * expression the kNN family ranks with (sequential float-pair
    * accumulation in double, IEEE-identical to DuckDB's
    * `list_dot_product` over `CAST(... AS DOUBLE[])` — the q95/q20 proven
    * path), `sqrt` is correctly rounded by IEEE 754, and the floor lands
    * both engines on the same integer.
    *
    * Scale shape: ONE narrow scan — the 64-float dot is a per-row codegen
    * map, the aggregate is a 10-label hash agg with map-side partials.
    * Nothing corpus-sized shuffles; output is label-cardinality rows.
    */
  def embeddingNorms(
      spark: SparkSession,
      sfDir: String,
      tolPpm: Long = 5000L): DataFrame =
    embeddingNormsOf(Tables.embeddings(spark, sfDir), tolPpm)

  /** The norm-audit core over ANY (label, embedding) frame — the gate
    * wrapper binds the fixture table; specs drive it with planted
    * zero/scaled vectors the (all-unit-norm) fixtures cannot produce.
    */
  def embeddingNormsOf(emb: DataFrame, tolPpm: Long): DataFrame =
    emb
      .select(col("label"),
        floor(sqrt(VectorExpressions.dot(col("embedding"), col("embedding")))
          * 1000000d).cast("long").as("norm_ppm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("norm_ppm")).as("min_norm_ppm"),
        max(col("norm_ppm")).as("max_norm_ppm"),
        sum(when(abs(col("norm_ppm") - 1000000L) > tolPpm, 1L).otherwise(0L))
          .as("n_off_unit"))
      .orderBy(col("label"))

  def embeddingNormsOracle(tolPpm: Long = 5000L): String =
    s"""WITH n AS (
       |  SELECT label,
       |         CAST(floor(sqrt(list_dot_product(
       |             CAST(embedding AS DOUBLE[]),
       |             CAST(embedding AS DOUBLE[]))) * 1000000) AS BIGINT)
       |           AS norm_ppm
       |  FROM embeddings)
       |SELECT label, count(*) AS n_vectors,
       |       min(norm_ppm) AS min_norm_ppm,
       |       max(norm_ppm) AS max_norm_ppm,
       |       CAST(sum(CASE WHEN abs(norm_ppm - 1000000) > $tolPpm
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_off_unit
       |FROM n GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q133

  /** q133 — EMBEDDING COVERAGE AUDIT: full-outer join of document ids
    * against embedding-store ids, summarized per source — how many
    * documents have a vector, how many are missing one (they silently drop
    * out of every semantic operator), and how many vectors are orphans of
    * no current document (rows under the synthetic `(orphan)` source:
    * stale embeddings of deleted/re-ingested docs — the same degradation
    * class [[Index.integrityReport]] probes inside the LSH layout, here
    * caught at the store boundary).
    *
    * Scale shape: both join legs are id+source projections (pruned scans,
    * no text/vector bytes move); the full-outer equi-join is ONE hash
    * exchange on the id — the unavoidable minimum for set reconciliation —
    * and on id-bucketed layouts it degrades to a zero-exchange SMJ. The
    * summary aggregates to source cardinality before anything returns.
    */
  def embeddingCoverage(spark: SparkSession, sfDir: String): DataFrame =
    embeddingCoverageOf(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
      Tables.embeddings(spark, sfDir).select(col("vec_id")))

  /** The reconciliation core over ANY (doc_id, source) × (vec_id) pair of
    * id frames — specs drive it with planted gaps and orphans.
    */
  def embeddingCoverageOf(d: DataFrame, e: DataFrame): DataFrame = {
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .groupBy(coalesce(col("source"), lit("(orphan)")).as("source"))
      .agg(
        sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
          .otherwise(0L)).as("n_with_vec"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_orphan_vecs"))
      .orderBy(col("source"))
  }

  val embeddingCoverageOracle: String =
    """SELECT coalesce(source, '(orphan)') AS source,
      |       CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_vec,
      |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_orphan_vecs
      |FROM documents d
      |FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q148

  /** q148 — CORPUS FINGERPRINT: an order-independent content fingerprint
    * per source (and a rolled-up `(all)` row) — XOR-fold of
    * `xxhash64(doc_id, text)` over the group. THE reproducibility
    * primitive: two pipeline runs (different cluster, different
    * partitioning, different row order) produced the same corpus iff
    * their fingerprints match, without shipping either corpus anywhere.
    * XOR is commutative/associative AND overflow-free (a wrapping sum
    * trips ANSI mode), so the value is independent of row order and
    * partitioning by construction (DetCheck covers the gate; the spec
    * pins single-character sensitivity and permutation invariance). The
    * id is hashed WITH the text so two identical keyed rows — impossible
    * in a keyed corpus — are the only way rows cancel; sensitivity is
    * that of a 64-bit fold: collisions need an adversary, which the
    * operational "did my rerun drift" question doesn't face (use the
    * q117 digest delta to locate WHAT drifted). Rows-only gate: xxhash64
    * is Spark-native (DuckDB carries no compatible hash).
    *
    * Scale shape: one narrow scan (hash in the projection), a rollup
    * aggregate with map-side partials — the cheapest corpus-level
    * equality check that exists.
    */
  def corpusFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    corpusFingerprintOf(Tables.documents(spark, sfDir))

  /** The fingerprint core over ANY (doc_id, source, text) frame. */
  def corpusFingerprintOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), xxhash64(col("doc_id"), col("text")).as("h"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("fingerprint"))
      .select(coalesce(col("source"), lit("(all)")).as("source"),
        col("n_docs"), col("fingerprint"))
      .orderBy(col("source"))

  // ---------------------------------------------------------------- q141

  /** q141 — INDEX HEALTH SUMMARY: one always-present row over the persisted
    * LSH index — live vector and posting counts plus the
    * [[Index.integrityReport]] orphan totals (zero ⇔ healthy). The
    * scheduled health check an operator runs next to vacuum: the raw
    * integrity report is EMPTY when healthy (per-generation rows exist
    * only on damage), so this wrapper aggregates it under coalesce-to-zero
    * and joins the live-size context a dashboard actually plots. Rows-only
    * gate (counts depend on the index layout/lifecycle state); LshSpec
    * pins the orphan mechanics, AuditSpec pins the healthy-zeros shape.
    *
    * Scale shape: three column-pruned scans of the index layout (ids +
    * batch only — never an embedding), the probe's 16-byte anti-join, and
    * 1-row aggregates. Safe on a schedule at any index size.
    */
  def indexHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Index.ensure(spark, sfDir)
    val nVec = Index.liveVectors(spark, dir)
      .agg(count(lit(1)).as("n_vectors"))
    val nPost = Index.livePostings(spark, dir).agg(count(lit(1)).as("n_postings"))
    val orphans = Index.integrityReport(spark, dir)
      .agg(
        coalesce(sum(col("n_orphan_ids")), lit(0L)).as("n_orphan_ids"),
        coalesce(sum(col("n_orphan_postings")), lit(0L)).as("n_orphan_postings"))
    nVec.crossJoin(nPost).crossJoin(orphans)
      .withColumn("healthy", col("n_orphan_postings") === 0L)
  }

  // ---------------------------------------------------------------- q137

  /** q137 — CENTROID DRIFT between two embedding snapshots: per label, the
    * L1 displacement of the class centroid from snapshot A to snapshot B
    * (scaled-integer ppm) — the vector-space twin of q127's token drift and
    * the audit run on a NEW MODEL DROP before re-pointing search at it
    * (centroids that moved mean every stored threshold — SemDeDup cosine
    * bars, IVF cell boundaries, affinity cuts — was calibrated in a space
    * that no longer exists). The fixture splits by vec_id parity as the
    * two-snapshot stand-in, exactly like q117/q127's derived snapshots.
    *
    * Determinism: components are scaled to integer ppm in the scan (the
    * q27 CentroidAgg convention), per-(label, dim) sums are exact BIGINTs,
    * and the drift numerator `Σ_dim |sa·nb − sb·na|` stays integer (the
    * cross-multiplication avoids dividing into doubles); one final integer
    * division lands the ppm. A label missing from either snapshot reports
    * NULL drift rather than dividing by zero, on both engines.
    *
    * Overflow bounds: |s| ≤ 1e6·n per dim; |sa·nb| ≤ 1e6·na·nb — safe
    * while na·nb ≤ ~9e12 (3 M × 3 M vectors per label); past that, scale
    * the per-dim sums to per-vector means first or sum in DECIMAL(38,0).
    *
    * Scale shape: ONE pass over each snapshot's vectors — the 64-way
    * posexplode is a narrow generate feeding a partial-aggregated
    * (label, dim) hash agg, so the exchange carries labels×dims rows of
    * longs, never vectors; the count aggregate reads two pruned columns;
    * the final rollup is label-cardinality.
    */
  def centroidDrift(spark: SparkSession, sfDir: String): DataFrame =
    // ONE tagged scan (r14): the old two-filtered-frames union planned TWO
    // full embedding scans per leg (the `% 2` predicate prunes nothing at
    // the storage layer — both "snapshots" live in one table), and the
    // byDim + counts legs each re-planned the union — 2 heavy vector scans
    // + 2 light label scans per run. Deriving the is_a tag in a single
    // projection halves the heavy reads; real two-table snapshots keep the
    // union entry point below.
    centroidDriftTagged(
      Tables.embeddings(spark, sfDir)
        .select(col("label"), (col("vec_id") % 2 === 0).as("is_a"), col("embedding")))

  /** The drift core over ANY two (label, embedding) snapshot frames —
    * specs drive it with planted shifts of known magnitude.
    */
  def centroidDriftOf(a: DataFrame, b: DataFrame): DataFrame = {
    def tagged(df: DataFrame, isA: Boolean) =
      df.select(col("label"), lit(isA).as("is_a"), col("embedding"))
    centroidDriftTagged(tagged(a, isA = true).unionByName(tagged(b, isA = false)))
  }

  /** Drift core over one pre-tagged (label, is_a, embedding) frame. */
  private def centroidDriftTagged(taggedRows: DataFrame): DataFrame = {
    val x = taggedRows
      .select(col("label"), col("is_a"),
        posexplode(col("embedding")).as(Seq("dim0", "ev")))
      .select(col("label"), col("is_a"), col("dim0"),
        expr("CAST(floor(CAST(ev AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT)").as("s"))
    val byDim = x.groupBy(col("label"), col("dim0"))
      .agg(
        sum(when(col("is_a"), col("s")).otherwise(0L)).as("sa"),
        sum(when(!col("is_a"), col("s")).otherwise(0L)).as("sb"))
    val counts = taggedRows
      .groupBy(col("label"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
    byDim.join(broadcast(counts), "label")
      .groupBy(col("label"), col("na"), col("nb"))
      .agg(sum(abs(col("sa") * col("nb") - col("sb") * col("na"))).as("num"))
      .select(col("label"), col("na"), col("nb"),
        when(col("na") === 0L || col("nb") === 0L, lit(null).cast("long"))
          .otherwise(expr("num div (na * nb)")).as("l1_drift_ppm"))
      .orderBy(col("label"))
  }

  val centroidDriftOracle: String =
    """WITH x AS (
      |  SELECT label, vec_id % 2 = 0 AS is_a,
      |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
      |           AS BIGINT) AS s,
      |         generate_subscripts(embedding, 1) AS dim
      |  FROM embeddings),
      |d AS (
      |  SELECT label, dim,
      |         CAST(sum(CASE WHEN is_a THEN s ELSE 0 END) AS BIGINT) AS sa,
      |         CAST(sum(CASE WHEN NOT is_a THEN s ELSE 0 END) AS BIGINT) AS sb
      |  FROM x GROUP BY label, dim),
      |c AS (
      |  SELECT label,
      |         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS nb
      |  FROM embeddings GROUP BY label)
      |SELECT d.label, na, nb,
      |       CASE WHEN na = 0 OR nb = 0 THEN NULL
      |            ELSE CAST(sum(abs(sa * nb - sb * na)) AS BIGINT)
      |              // (na * nb) END AS l1_drift_ppm
      |FROM d JOIN c ON d.label = c.label
      |GROUP BY d.label, na, nb ORDER BY d.label""".stripMargin

  /** q184 — PER-SOURCE COLUMN CORRELATION (ES `matrix_stats`): Pearson
    * correlation between character and token counts per source — the
    * metadata-sanity audit that catches a source whose length fields
    * stopped agreeing (truncated text, double-counted whitespace, a broken
    * extractor). One corpus aggregate computing the six moment sums
    * (n, Σx, Σy, Σx², Σy², Σxy) EXACTLY in BIGINT — order-independent
    * under any partitioning — then the correlation as a fixed tree of
    * correctly-rounded double ops (the moment differences n·Σxy − Σx·Σy
    * etc. are formed in BIGINT, exact; sqrt/÷ are IEEE-correct on both
    * engines), so the oracle is bitwise. A zero-variance side yields NULL
    * (undefined, surfaced) on both engines. Overflow: the widest products
    * (n·Σx², n·Σxy) are worst-case n²·x̂·ŷ — inside BIGINT while
    * n·√(x̂·ŷ) ≲ 3·10⁹, e.g. counts ≤ 10⁴ to ~3·10⁵ docs per source at
    * the adversarial extreme (real length pairs correlate, buying orders
    * of magnitude more); past that, the DECIMAL(38,0) valve (the q116
    * note) — and either way ANSI arithmetic fails loud (the q190
    * MiscSpec pin), never a silent wraparound.
    */
  def columnCorrelations(spark: SparkSession, sfDir: String): DataFrame =
    columnCorrelationsOf(
      graft.Tables.documents(spark, sfDir)
        .select(
          col("source"),
          col("n_chars").as("x"),
          size(split(col("text"), " ")).cast("long").as("y")))

  /** The exact-moment correlation core over ANY (source, x, y) long frame —
    * the gate wrapper binds chars/tokens; specs drive it with planted
    * perfect/anti/degenerate relationships and a driver recompute.
    */
  def columnCorrelationsOf(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("source"), col("n"),
        when(
          col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
          Det.display(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 4))
          .as("chars_tokens_corr"))
      .orderBy(col("source"))

  val columnCorrelationsOracle: String =
    """WITH m AS (
      |  SELECT source, count(*) AS n,
      |         CAST(sum(n_chars) AS BIGINT) AS sx,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sy,
      |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
      |         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)
      |                  * len(string_split(text, ' '))) AS BIGINT) AS syy,
      |         CAST(sum(n_chars * len(string_split(text, ' '))) AS BIGINT)
      |           AS sxy
      |  FROM documents GROUP BY source)
      |SELECT source, n,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |            THEN floor((n * sxy - sx * sy) /
      |                       (sqrt(n * sxx - sx * sx) *
      |                        sqrt(n * syy - sy * sy)) * 10000.0 + 0.5) / 10000.0
      |            END AS chars_tokens_corr
      |FROM m ORDER BY source""".stripMargin

  /** q202 — MATRIX STATS (ES `matrix_stats`, the full response): per
    * numeric field — count, mean, sample variance, skewness, kurtosis —
    * and per field PAIR — sample covariance and Pearson correlation —
    * flattened to one row per (field_x, field_y) cell, diagonal included
    * (covariance(x,x) = variance numerator, correlation(x,x) = 1). Fields
    * are lineitem's quantity / discount / tax in Det-scaled integer units.
    *
    * Determinism (the q184 argument, extended to higher moments): ONE
    * corpus aggregate computes every raw moment sum — n, Σx, Σx², Σx³,
    * Σx⁴ per field and Σxy per pair — EXACTLY in BIGINT (scaled values
    * ≤ 50 ⇒ per-row x⁴ ≤ 6.25·10⁶, so sums stay inside BIGINT to ~10¹²
    * rows and inside double's 2⁵³ integer range at gate scale — no
    * rounding exists before the final double tree). Variance, covariance,
    * and correlation use exact integer NUMERATORS (n·Σx² − (Σx)²,
    * n·Σxy − Σx·Σy); skewness m₃/m₂^1.5 and kurtosis m₄/m₂² (plain, not
    * excess — ES's definition) come from central moments formed in ONE
    * pinned double tree mirrored token-for-token in the oracle. Zero
    * variance ⇒ NULL skew/kurt/correlation (undefined, surfaced), n ≤ 1
    * ⇒ NULL variance/covariance, both engines.
    *
    * Scale shape: the matrix is N·(N+3)/2 + 1 counters reducing through
    * one map-side-combined aggregate to a single row; the 9-cell explode
    * is matrix-cardinality work. Nothing corpus-sized past the scan —
    * exactly how ES's per-shard MatrixStats collector runs.
    */
  def matrixStats(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Seq("quantity", "discount", "tax")
    val li = graft.Tables.lineitem(spark, sfDir).select(
      Det.scaled(col("l_quantity"), 0).as("v0"),
      Det.scaled(col("l_discount"), 2).as("v1"),
      Det.scaled(col("l_tax"), 2).as("v2"))
    val idx = names.indices
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
        idx.flatMap { i =>
          val v = col(s"v$i")
          Seq(sum(v).as(s"s1_$i"), sum(v * v).as(s"s2_$i"),
            sum(v * v * v).as(s"s3_$i"), sum(v * v * v * v).as(s"s4_$i"))
        } ++
        (for (i <- idx; j <- idx if i < j)
          yield sum(col(s"v$i") * col(s"v$j")).as(s"sp_${i}_$j"))
    val m = li.agg(aggs.head, aggs.tail: _*)
    val n = col("n")
    def a2(i: Int) = n * col(s"s2_$i") - col(s"s1_$i") * col(s"s1_$i")
    def cross(i: Int, j: Int) =
      if (i == j) a2(i)
      else { val (a, b) = (math.min(i, j), math.max(i, j))
        n * col(s"sp_${a}_$b") - col(s"s1_$i") * col(s"s1_$j") }
    def m1(i: Int) = col(s"s1_$i") / n
    def m2(i: Int) = col(s"s2_$i") / n - m1(i) * m1(i)
    def m3(i: Int) =
      col(s"s3_$i") / n - lit(3.0) * m1(i) * (col(s"s2_$i") / n) +
        lit(2.0) * m1(i) * m1(i) * m1(i)
    def m4(i: Int) =
      col(s"s4_$i") / n - lit(4.0) * m1(i) * (col(s"s3_$i") / n) +
        lit(6.0) * m1(i) * m1(i) * (col(s"s2_$i") / n) -
        lit(3.0) * m1(i) * m1(i) * m1(i) * m1(i)
    // Stage the scalar stats as FLAT named columns first: each deep moment
    // tree is generated exactly once, and the 9-cell explode below
    // references plain attributes — without this the 9× duplicated trees
    // blow past janino's method limits and the projection falls out of
    // codegen (observed: 9.3 s interpreted vs ~0.1 s compiled).
    val flat = m.select(
      Seq(n.as("n")) ++
        idx.flatMap { i => Seq(
          Det.display(m1(i), 4).as(s"mean_$i"),
          when(n > 1, Det.display(a2(i) / (n * (n - 1)), 4)).as(s"var_$i"),
          when(m2(i) > 0, Det.display(m3(i) / (sqrt(m2(i)) * m2(i)), 4)).as(s"skew_$i"),
          when(m2(i) > 0, Det.display(m4(i) / (m2(i) * m2(i)), 4)).as(s"kurt_$i"))
        } ++
        (for (i <- idx; j <- idx if i <= j) yield Seq(
          when(n > 1, Det.display(cross(i, j) / (n * (n - 1)), 4)).as(s"cov_${i}_$j"),
          when(a2(i) > 0 && a2(j) > 0,
            Det.display(cross(i, j) / (sqrt(a2(i)) * sqrt(a2(j))), 4)).as(s"corr_${i}_$j")))
          .flatten: _*)
    val cells = for (i <- idx; j <- idx) yield {
      val (a, b) = (math.min(i, j), math.max(i, j))
      struct(
        lit(names(i)).as("field_x"), lit(names(j)).as("field_y"),
        col("n").as("n"),
        col(s"mean_$i").as("mean_x"), col(s"var_$i").as("variance_x"),
        col(s"skew_$i").as("skewness_x"), col(s"kurt_$i").as("kurtosis_x"),
        col(s"cov_${a}_$b").as("covariance"),
        col(s"corr_${a}_$b").as("correlation"))
    }
    flat.select(explode(array(cells: _*)).as("c"))
      .select(col("c.*"))
      .orderBy(col("field_x"), col("field_y"))
  }

  val matrixStatsOracle: String = {
    val names = Seq("quantity", "discount", "tax")
    val idx = names.indices
    val moments =
      idx.flatMap(i => Seq(
        s"CAST(sum(v$i) AS BIGINT) AS s1_$i",
        s"CAST(sum(v$i * v$i) AS BIGINT) AS s2_$i",
        s"CAST(sum(v$i * v$i * v$i) AS BIGINT) AS s3_$i",
        s"CAST(sum(v$i * v$i * v$i * v$i) AS BIGINT) AS s4_$i")) ++
        (for (i <- idx; j <- idx if i < j)
          yield s"CAST(sum(v$i * v$j) AS BIGINT) AS sp_${i}_$j")
    def a2(i: Int) = s"(n * s2_$i - s1_$i * s1_$i)"
    def cross(i: Int, j: Int) =
      if (i == j) a2(i)
      else { val (a, b) = (math.min(i, j), math.max(i, j))
        s"(n * sp_${a}_$b - s1_$i * s1_$j)" }
    def m1(i: Int) = s"(s1_$i / n)"
    def m2(i: Int) = s"(s2_$i / n - ${m1(i)} * ${m1(i)})"
    def m3(i: Int) =
      s"(s3_$i / n - 3.0 * ${m1(i)} * (s2_$i / n) + 2.0 * ${m1(i)} * ${m1(i)} * ${m1(i)})"
    def m4(i: Int) =
      s"(s4_$i / n - 4.0 * ${m1(i)} * (s3_$i / n) + 6.0 * ${m1(i)} * ${m1(i)} * (s2_$i / n) - 3.0 * ${m1(i)} * ${m1(i)} * ${m1(i)} * ${m1(i)})"
    val cells = (for (i <- idx; j <- idx) yield
      s"""SELECT '${names(i)}' AS field_x, '${names(j)}' AS field_y, n,
         |  floor((${m1(i)}) * 10000.0 + 0.5) / 10000.0 AS mean_x,
         |  CASE WHEN n > 1 THEN floor(${a2(i)} / (n * (n - 1)) * 10000.0 + 0.5) / 10000.0 END AS variance_x,
         |  CASE WHEN ${m2(i)} > 0 THEN floor(${m3(i)} / (sqrt(${m2(i)}) * ${m2(i)}) * 10000.0 + 0.5) / 10000.0 END AS skewness_x,
         |  CASE WHEN ${m2(i)} > 0 THEN floor(${m4(i)} / (${m2(i)} * ${m2(i)}) * 10000.0 + 0.5) / 10000.0 END AS kurtosis_x,
         |  CASE WHEN n > 1 THEN floor(${cross(i, j)} / (n * (n - 1)) * 10000.0 + 0.5) / 10000.0 END AS covariance,
         |  CASE WHEN ${a2(i)} > 0 AND ${a2(j)} > 0
         |       THEN floor(${cross(i, j)} / (sqrt(${a2(i)}) * sqrt(${a2(j)})) * 10000.0 + 0.5) / 10000.0 END AS correlation
         |FROM m""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT ${Det.sqlScaled("l_quantity", 0)} AS v0,
       |         ${Det.sqlScaled("l_discount", 2)} AS v1,
       |         ${Det.sqlScaled("l_tax", 2)} AS v2
       |  FROM lineitem),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         ${moments.mkString(",\n         ")}
       |  FROM v)
       |$cells
       |ORDER BY field_x, field_y""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_embedding_norms" -> ((s: SparkSession, d: String) => embeddingNorms(s, d)),
    "q184_column_correlations" -> (columnCorrelations _),
    "q202_matrix_stats" -> (matrixStats _),
    "q133_embedding_coverage" -> (embeddingCoverage _),
    "q137_centroid_drift" -> (centroidDrift _),
    // rows-only: counts depend on the persisted index layout state
    "q141_index_health" -> (indexHealth _),
    // rows-only: xxhash64 has no DuckDB twin; invariance/sensitivity
    // spec-pinned, partitioning-independence DetCheck-pinned
    "q148_corpus_fingerprint" -> (corpusFingerprint _))

  val oracles: Map[String, String] = Map(
    "q131_embedding_norms" -> embeddingNormsOracle(),
    "q184_column_correlations" -> columnCorrelationsOracle,
    "q202_matrix_stats" -> matrixStatsOracle,
    "q133_embedding_coverage" -> embeddingCoverageOracle,
    "q137_centroid_drift" -> centroidDriftOracle)
}

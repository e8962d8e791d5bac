package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions

import graft.functions.VectorOps
import graft.operators.Lsh

class VectorExprSpec extends SparkSpec {

  private def pairs() = {
    val emb = Tables.embeddings(spark, sf0001)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    a.join(b, col("ia") === col("ib") - 250) // 250 aligned pairs
  }

  test("native L2 expression is bitwise-identical to the HOF composition") {
    val df = pairs().select(
      VectorOps.l2(col("va"), col("vb")).as("hof"),
      VectorExpressions.l2(col("va"), col("vb")).as("native"))
    val bad = df.filter(col("hof") =!= col("native")).count()
    assert(bad == 0, s"$bad rows differ")
    assert(df.count() == 250)
  }

  test("native cosine expression is bitwise-identical to the HOF composition") {
    val df = pairs().select(
      VectorOps.cosine(col("va"), col("vb")).as("hof"),
      VectorExpressions.cosine(col("va"), col("vb")).as("native"))
    val bad = df.filter(col("hof") =!= col("native")).count()
    assert(bad == 0, s"$bad rows differ")
  }

  test("native dot expression is bitwise-identical to the HOF composition") {
    val df = pairs().select(
      VectorOps.dot(col("va"), col("vb")).as("hof"),
      VectorExpressions.dot(col("va"), col("vb")).as("native"))
    val bad = df.filter(col("hof") =!= col("native")).count()
    assert(bad == 0, s"$bad rows differ")
  }

  test("LshHash expression equals the broadcast-UDF hashing") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = Lsh.fit(emb, tables = 8, bits = 4)
    val bc = spark.sparkContext.broadcast(model)
    val df = emb.select(
      Lsh.hashUdf(bc)(col("embedding")).as("viaUdf"),
      VectorExpressions.lshHash(col("embedding"), model).as("viaExpr"))
    val bad = df.filter(col("viaUdf") =!= col("viaExpr")).count()
    assert(bad == 0, s"$bad rows differ")
  }

  test("nearest-cells codegen matches the driver-side kernel, both eval modes") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val cents = graft.operators.Vectors.collectCentroids(
      Tables.embeddings(spark, sf0001), 16)
    def viaExpr(): Map[Long, Seq[Long]] = emb.select(
        col("vec_id"),
        VectorExpressions.nearestCells(col("embedding"), cents, 4).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val codegen = viaExpr()
    val driverSide = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        cents.nearestArray(r.getSeq[Float](1).toArray, 4).toSeq).toMap
    assert(codegen == driverSide)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(viaExpr() == driverSide)
    }
  }

  test("PqEncode expression is bitwise-identical to the driver-side kernel, both eval modes") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pq.PQ().fit(emb)
    def driverSide = emb.orderBy("vec_id").limit(50).collect()
      .map(r => (r.getLong(0), model.encode(r.getSeq[Float](1).toArray).toSeq))
    def viaExpr() = emb.orderBy("vec_id").limit(50)
      .select(col("vec_id"), VectorExpressions.pqEncode(col("embedding"), model).as("codes"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
    assert(viaExpr().toSeq == driverSide.toSeq)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(viaExpr().toSeq == driverSide.toSeq)
    }
  }

  test("SimHash64 and Fingerprint64 expressions match the Scala kernels, both eval modes") {
    import graft.operators.Text
    import org.apache.spark.sql.graft.TextExpressions
    val doc = Tables.documents(spark, sf0001).orderBy("doc_id").limit(50)
    val texts = doc.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // same tokenization as the q35/q38 queries: split on single spaces
    val wantSim = texts.map { case (id, t) =>
      (id, Text.simhash64(t.split(" ", -1).toSeq))
    }.toMap
    val wantFp = texts.map { case (id, t) => (id, Text.fingerprint(t)) }.toMap
    def got() = doc.select(col("doc_id"),
        TextExpressions.simhash(split(col("text"), " ")).as("sh"),
        TextExpressions.fingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def check(): Unit = got().foreach { case (id, sh, fp) =>
      assert(sh == wantSim(id), s"simhash mismatch for doc $id")
      assert(fp == wantFp(id), s"fingerprint mismatch for doc $id")
    }
    check()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check()
    }
  }

  test("expressions survive both codegen and interpreted eval") {
    val emb = Tables.embeddings(spark, sf0001).limit(10)
    val base = emb.select(
        VectorExpressions.l2(col("embedding"), col("embedding")).as("zero"))
      .collect().map(_.getDouble(0))
    assert(base.forall(_ == 0.0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = emb.select(
          VectorExpressions.l2(col("embedding"), col("embedding")).as("zero"))
        .collect().map(_.getDouble(0))
      assert(interp.forall(_ == 0.0))
    }
  }

  test("arg_min_long ignores null candidates — a null-ord first row must not seed the buffer") {
    // r12 ADVICE finding: the original beats() only checked IsNull(bVal),
    // so a null-ord first candidate seeded the buffer and then permanently
    // blocked every later (valid) update. Pin the fixed semantics: null-ord
    // and null-val candidates are skipped outright, regardless of arrival
    // order, and an all-null group evaluates to null like min_by.
    import spark.implicits._
    val rows = Seq[(Long, Option[Double], Option[Long])](
      (1L, None, Some(99L)),        // null ord arrives FIRST in group 1
      (1L, Some(5.0), Some(50L)),
      (1L, Some(2.0), Some(20L)),   // true argmin of group 1
      (2L, Some(3.0), None),        // null value arrives FIRST in group 2
      (2L, Some(9.0), Some(90L)),   // only valid candidate of group 2
      (3L, None, Some(7L)),         // group 3 has no valid candidate
      (3L, Some(4.0), None))
      .toDF("g", "ord", "v")
      // coalesce (NOT repartition — that shuffles and scrambles order) so
      // the in-group arrival order above is real and the null truly
      // reaches the update expression first
      .coalesce(1)
    val got = rows.groupBy($"g")
      .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got == Map(1L -> Some(20L), 2L -> Some(90L), 3L -> None), got.toString)
    // and the same verdict with codegen off (interpreted update/merge path)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = rows.groupBy($"g")
        .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert(interp == Map(1L -> Some(20L), 2L -> Some(90L), 3L -> None), interp.toString)
    }
  }

  test("arg_min_long merge path: all-null partitions merge as empty buffers") {
    // The coalesce(1) test above exercises UPDATE order; this one forces
    // the MERGE expressions across partial-aggregation buffers: nulls and
    // valid candidates land in different input partitions (repartition by
    // a per-row key), so some partials carry an EMPTY (null-ord) buffer
    // into the final merge — which must lose to any seeded buffer and
    // combine to null only when every partial is empty.
    import spark.implicits._
    val rows = Seq[(Long, Long, Option[Double], Option[Long])](
      (1L, 10L, None, Some(99L)), (1L, 11L, Some(5.0), Some(50L)),
      (1L, 12L, Some(2.0), Some(20L)), (1L, 13L, None, None),
      (2L, 20L, None, Some(1L)), (2L, 21L, None, Some(2L)),
      (3L, 30L, Some(1.0), Some(7L)), (3L, 31L, Some(1.0), Some(3L)))
      .toDF("g", "rk", "ord", "v")
      .repartition(8, col("rk")) // scatter each group across partials
    val got = rows.groupBy($"g")
      .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // g=1: valid min (2.0, 20); g=2: only null-ord candidates -> null;
    // g=3: ord tie 1.0 -> smaller value 3 wins (the lexicographic contract)
    assert(got == Map(1L -> Some(20L), 2L -> None, 3L -> Some(3L)), got.toString)
  }

  test("arg_min_long equals a driver recompute on randomized null-bearing groups") {
    // Seeded randomized sweep, one Spark job: 40 independent datasets x 50
    // rows with ~25% null ords / ~15% null values, keyed (dataset, group)
    // so every dataset aggregates in the same pass. Ground truth is the
    // doc'd contract computed driver-side: drop rows with a null ord OR
    // null value, lexicographic min by (ord, value), empty -> null.
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val data = for {
      ds <- 0 until 40
      _ <- 0 until 50
    } yield {
      val g = rnd.nextInt(7).toLong
      val ord = if (rnd.nextDouble() < 0.25) None
        else Some(math.floor(rnd.nextDouble() * 20 - 10) / 2.0) // coarse: forces ord ties
      val v = if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(100).toLong)
      (ds.toLong, g, ord, v)
    }
    val expected: Map[(Long, Long), Option[Long]] = data
      .groupBy(r => (r._1, r._2))
      .map { case (k, rows) =>
        val valid = rows.collect { case (_, _, Some(o), Some(v)) => (o, v) }
        k -> (if (valid.isEmpty) None else Some(valid.min._2))
      }
    val got = data.toDF("ds", "g", "ord", "v")
      .groupBy($"ds", $"g")
      .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    val diff = expected.collect { case (k, e) if got(k) != e => s"$k: expected $e got ${got(k)}" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
  }

  test("arg_min_long matches min_by on fully non-null data") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sf0001)
      .select((col("vec_id") % 17).as("g"),
        (col("vec_id") % 101).cast("double").as("ord"), col("vec_id").as("v"))
    val viaArgMin = rows.groupBy($"g")
      .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
    val viaMinBy = rows.groupBy($"g")
      .agg(min_by($"v", struct($"ord", $"v")).as("m"))
    val bad = viaArgMin.join(viaMinBy.withColumnRenamed("m", "m2"), "g")
      .filter($"m" =!= $"m2").count()
    assert(bad == 0, s"$bad groups diverge from min_by")
  }

  test("arg_min_long diverges from min_by on a null-VALUE minimal row — documented, not accidental") {
    // r13 ADVICE: min_by only ignores rows whose ORDERING is null — a row
    // holding the minimal ord with a null value makes min_by return null,
    // while arg_min_long skips it and returns the next-best fully-non-null
    // candidate (scaladoc'd as a deliberate divergence). Pin both verdicts
    // on the same frame so the behavior stays documented, not drifting.
    import spark.implicits._
    val rows = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(1.0), None),       // minimal ord of group 1, null value
      (1L, Some(2.0), Some(42L)))  // the next-best candidate
      .toDF("g", "ord", "v").coalesce(1)
    val viaArgMin = rows.groupBy($"g")
      .agg(VectorExpressions.argMinLong($"ord", $"v").as("m"))
      .collect().map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
    val viaMinBy = rows.groupBy($"g")
      .agg(min_by($"v", $"ord").as("m"))
      .collect().map(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
    assert(viaArgMin.toSeq == Seq(Some(42L)),
      s"arg_min_long must skip the null-value minimal row: ${viaArgMin.toSeq}")
    assert(viaMinBy.toSeq == Seq(None),
      s"min_by is expected to return null here (Spark semantics moved?): ${viaMinBy.toSeq}")
  }

  test("min_long_pair equals min(struct(a, b)) on non-null data and skips null candidates") {
    // r14: the hash-aggregable replacement for the struct-buffered Min in
    // the duplicated-line dictionary build (the third instance of the r12
    // SortAggregate demotion class, caught by the builder plan lint).
    // Parity target: bitwise the lexicographic minimum min(struct) computes.
    import spark.implicits._
    val rows = Tables.embeddings(spark, sf0001)
      .select((col("vec_id") % 13).as("g"),
        (col("vec_id") % 7).as("a"), col("vec_id").as("b"))
    val viaPair = rows.groupBy($"g")
      .agg(VectorExpressions.minLongPair($"a", $"b").as("m"))
      .select($"g", $"m.a", $"m.b")
    val viaStruct = rows.groupBy($"g")
      .agg(min(struct($"a", $"b")).as("m"))
      .select($"g", $"m.a", $"m.b")
    assert(viaPair.except(viaStruct).count() == 0 &&
      viaStruct.except(viaPair).count() == 0, "pair-min diverges from min(struct)")
    // the demotion fix is real: the pair-min plans as HashAggregate, the
    // struct Min as SortAggregate — the defect this expression exists for
    val pairPlan = viaPair.queryExecution.executedPlan.toString
    assert(!pairPlan.contains("SortAggregate") && pairPlan.contains("HashAggregate"),
      s"min_long_pair must hash-aggregate:\n$pairPlan")
    assert(viaStruct.queryExecution.executedPlan.toString.contains("SortAggregate"),
      "min(struct) stopped demoting — revisit whether MinLongPair is still needed")
    // null discipline (the ArgMinLong contract): null-bearing candidates
    // are skipped regardless of arrival order; all-null groups -> null;
    // nulls scattered across partitions exercise the merge path
    val nullRows = Seq[(Long, Long, Option[Long], Option[Long])](
      (1L, 10L, None, Some(0L)), (1L, 11L, Some(5L), Some(50L)),
      (1L, 12L, Some(5L), Some(20L)), (1L, 13L, Some(9L), None),
      (2L, 20L, None, Some(1L)), (2L, 21L, Some(3L), None),
      (3L, 30L, Some(2L), Some(2L)))
      .toDF("g", "rk", "a", "b")
      .repartition(8, col("rk"))
    val got = nullRows.groupBy($"g")
      .agg(VectorExpressions.minLongPair($"a", $"b").as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else { val s = r.getStruct(1); Some((s.getLong(0), s.getLong(1))) }))
      .toMap
    assert(got == Map(1L -> Some((5L, 20L)), 2L -> None, 3L -> Some((2L, 2L))), got.toString)
  }

  test("arg_min_long rejects wrong input types at analysis") {
    import spark.implicits._
    val rows = Seq((1L, 1, 2L)).toDF("g", "ordInt", "v")
    val ex = intercept[Exception] {
      rows.groupBy($"g")
        .agg(VectorExpressions.argMinLong($"ordInt", $"v").as("m"))
        .collect()
    }
    assert(ex.getMessage.contains("arg_min_long") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"), ex.getMessage)
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

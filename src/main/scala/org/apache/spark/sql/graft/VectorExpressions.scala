package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

import graft.operators.CentroidSet
import graft.operators.Lsh.LshModel

/** Native Catalyst expressions for the vector hot paths (SURVEY.md §4.3):
  * primitive float loops with whole-stage codegen, replacing the v1
  * higher-order-function compositions. No per-row boxing, no Seq
  * allocation — the generated Java reads `ArrayData.getFloat(i)` directly.
  *
  * Bit-compatibility contract: each expression accumulates in exactly the
  * same order as the HOF versions in [[VectorOps]] (left-to-right over the
  * array, double arithmetic), so swapping them cannot perturb oracle-checked
  * output — VectorExprSpec asserts bitwise equality on the fixtures.
  *
  * Null-element contract: inputs must be dense arrays with no null elements
  * (the parquet fixture schema is `list<float>` and every writer in this repo
  * produces dense vectors). A null element would read as 0.0f through
  * `ArrayData.getFloat` — declared here rather than paying an isNullAt
  * branch per element in the hot loop.
  */
object VectorExpressions {

  /** ‖a − b‖₂ with codegen. */
  case class L2Distance(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_distance"

    override def nullSafeEval(a: Any, b: Any): Any =
      L2Distance.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
           |  $s += $d * $d;
           |}
           |${ev.value} = java.lang.Math.sqrt($s);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  object L2Distance {
    /** The distance itself, for the interpreted path and for code that
      * scores rows outside a plan (the kNN fetch's task): float → double,
      * left to right, then `sqrt` — the generated code's exact arithmetic.
      */
    def of(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        s += d * d
        i += 1
      }
      math.sqrt(s)
    }
  }

  /** ‖a − b‖₂² with codegen — the distributed-assignment twin of
    * [[graft.operators.CentroidSet.nearest]]'s per-centroid loop: the SAME
    * double accumulation in the SAME dim-ascending order, so squared
    * distances (and therefore argmin cells, ties included) are bitwise
    * identical between the driver-array and centroid-table Lloyd paths
    * (VectorsSpec pins it). Squared, not sqrt'd: sqrt can map two distinct
    * squared distances onto one double and manufacture a tie the driver
    * path never saw.
    *
    * Ragged inputs FAIL LOUDLY (unlike the min-length truncation above):
    * this expression is the distributed Lloyd's assignment kernel, and
    * [[graft.operators.CentroidSet.nearest]] — the driver path it must stay
    * bitwise equal to — requires equal dimensions. Silently scoring a
    * prefix distance here would mis-assign cells on exactly the malformed
    * data where the driver path errors, breaking the parity contract where
    * it matters most.
    */
  case class L2Squared(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_squared"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) {
        throw new IllegalArgumentException(
          s"vector dimension $n != centroid dimension ${y.numElements()}")
      }
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "vector dimension " + $n + " != centroid dimension " + $b.numElements());
           |}
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cos(a, b) in one pass (dot + both norms accumulated together; same
    * per-term order as the three HOF passes, so bit-identical results).
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble
        val yv = y.getFloat(i).toDouble
        dot += xv * yv
        na += xv * xv
        nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = (double) $a.getFloat($i);
           |  double $yv = (double) $b.getFloat($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** a·b with codegen — the MIPS (max-inner-product) ranking metric,
    * completing the L2 / cosine / dot triad. Same left-to-right double
    * accumulation as the HOF formulation.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Packed per-table LSH hashes (SURVEY §2.A A2) as a native expression:
    * the model rides along as a plan reference object (tens of KB), the loop
    * is shared between interpreted eval and codegen via
    * [[LshModel.hashArrayData]].
    */
  case class LshHash(child: Expression, model: LshModel)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "lsh_hash"

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(model.hashArrayData(v.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val modelRef = ctx.addReferenceObj("lshModel", model, classOf[LshModel].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"$modelRef.hashArrayData($v));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Ids of the `n` nearest centroids (squared-L2, ties by id asc) — the IVF
    * coarse-quantizer step as a NARROW MAP. The centroid set rides the plan
    * as a reference object (like [[LshHash]]'s model); the old formulation
    * materialized N×C (vector, centroid) rows and shuffled them through a
    * window just to take an argmin.
    */
  case class NearestCells(child: Expression, cents: CentroidSet, n: Int)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "nearest_cells"

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(cents.nearest(v.asInstanceOf[ArrayData], n))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroidSet", cents, classOf[CentroidSet].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"$ref.nearest($v, $n));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** PQ encoding (embedding → M one-byte codes) as a native expression: at
    * corpus scale encode IS the ingest cost of a PQ index, and the previous
    * Scala UDF paid a Seq[Float] decode per row. The codebooks ride the plan
    * as a reference object (like [[LshHash]]'s model); the argmin loops live
    * in [[graft.operators.Pq.PqModel.encodeArrayData]], shared by eval and
    * codegen — bit-identical codes (PqSpec parity).
    */
  case class PqEncode(child: Expression, model: graft.operators.Pq.PqModel)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = BinaryType
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(v: Any): Any =
      model.encodeArrayData(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqModel", model,
        classOf[graft.operators.Pq.PqModel].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeArrayData($v);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** SQ8 encoding (embedding → 1 byte per dimension) as a native expression:
    * like [[PqEncode]], encode is the ingest cost of the index, so the
    * direct rint((x−min)/scale) grid quantization loop ([[graft.operators
    * .Pq.SqModel.encodeArrayData]], shared by eval and codegen) runs inside
    * whole-stage codegen with the model as a plan reference object.
    */
  case class Sq8Encode(child: Expression, model: graft.operators.Pq.SqModel)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = BinaryType
    override def prettyName: String = "sq8_encode"

    override def nullSafeEval(v: Any): Any =
      model.encodeArrayData(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sqModel", model,
        classOf[graft.operators.Pq.SqModel].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeArrayData($v);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Binary-quantization encode: 64-d float vector → one 64-bit sign-bit
    * word against the model's scaled-long per-dimension thresholds. The
    * comparison is exact-integer (`(x·10⁶)::long > thr6`), so codegen and
    * interpreted eval are bitwise identical by construction.
    */
  case class BqEncode(child: Expression, model: graft.operators.Pq.BqModel)
      extends UnaryExpression with ExpectsInputTypes {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType
    override def prettyName: String = "bq_encode"

    override def nullSafeEval(v: Any): Any =
      model.encodeArrayData(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bqModel", model,
        classOf[graft.operators.Pq.BqModel].getName)
      nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encodeArrayData($v);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fixed-width-buffer argmin: the value LONG whose (ord, value) pair is
    * smallest — semantically `min_by(value, struct(ord, value))`, but
    * HASH-AGGREGABLE. Spark's `min_by` stores its ORDERING expression in
    * the aggregation buffer, and a struct-typed buffer field disqualifies
    * whole-stage HashAggregate — the plan falls back to SortAggregate and
    * the full pre-aggregation stream crosses the exchange and gets sorted
    * (measured in r12: 281 s for the 3.3 G-row k=16384 assignment stream
    * where this form hash-aggregates with map-side partials). Buffer here
    * is two mutable primitives (minOrd double, minVal long) — the avg-style
    * multi-field shape HashAggregate fully supports.
    *
    * Ordering contract (pinned by VectorsSpec table≡driver parity): strict
    * (ord asc, value asc) lexicographic minimum, first-encountered
    * semantics never used because the order is total. A candidate with a
    * null ord OR a null value is skipped outright (it can neither seed an
    * empty buffer nor displace a non-null one), so an all-null group
    * evaluates to null. Null-ORD skipping matches min_by (which ignores
    * rows whose ordering is null); null-VALUE skipping is a deliberate
    * DIVERGENCE from min_by — `min_by(v, ord)` returns null when the
    * minimal ord's value is null, while arg_min_long skips that row and
    * returns the next-best fully-non-null candidate (the argmin callers
    * aggregate candidate IDS, where "the best candidate has no id" must
    * mean "not a candidate", never "erase the group's answer"). The
    * divergence is pinned by VectorExprSpec. Inputs are type-checked to exactly
    * (DoubleType, LongType): the buffer is two mutable primitives and
    * widening other numeric types silently would change tie-break order.
    */
  case class ArgMinLong(ord: Expression, value: Expression)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, EqualTo, If, IsNotNull, IsNull, LessThan, Literal, Or}
    override def left: Expression = ord
    override def right: Expression = value
    override def prettyName: String = "arg_min_long"
    override def nullable: Boolean = true
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (ord.dataType == DoubleType && value.dataType == LongType) {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      } else {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arg_min_long requires (DOUBLE ord, BIGINT value), got " +
            s"(${ord.dataType.simpleString}, ${value.dataType.simpleString})")
      }
    private lazy val minOrd = AttributeReference("minOrd", DoubleType)()
    private lazy val minVal = AttributeReference("minVal", LongType)()
    override lazy val aggBufferAttributes: Seq[AttributeReference] =
      Seq(minOrd, minVal)
    override lazy val initialValues: Seq[Expression] =
      Seq(Literal.create(null, DoubleType), Literal.create(null, LongType))
    // "candidate (nOrd, nVal) beats buffer (bOrd, bVal)": the candidate is
    // fully non-null AND (empty buffer — keyed on bOrd, which is null iff
    // no candidate has ever won — or strictly smaller ord, or equal ord
    // with smaller value). The explicit IsNotNull guard is load-bearing:
    // without it a null-ord candidate seeds an empty buffer (IsNull(bOrd)
    // short-circuits true) and then permanently blocks updates, because
    // LessThan against the null buffered ord yields null forever.
    private def beats(bOrd: Expression, bVal: Expression,
        nOrd: Expression, nVal: Expression): Expression =
      And(And(IsNotNull(nOrd), IsNotNull(nVal)),
        Or(IsNull(bOrd),
          Or(LessThan(nOrd, bOrd), And(EqualTo(nOrd, bOrd), LessThan(nVal, bVal)))))
    override lazy val updateExpressions: Seq[Expression] = {
      val b = beats(minOrd, minVal, ord, value)
      Seq(If(b, ord, minOrd), If(b, value, minVal))
    }
    override lazy val mergeExpressions: Seq[Expression] = {
      val b = beats(minOrd.left, minVal.left, minOrd.right, minVal.right)
      Seq(If(b, minOrd.right, minOrd.left), If(b, minVal.right, minVal.left))
    }
    override lazy val evaluateExpression: Expression = minVal
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArgMinLong =
      copy(ord = newLeft, value = newRight)
  }

  /** Column wrapper for [[ArgMinLong]] — use inside `.agg(...)`. */
  def argMinLong(ord: Column, value: Column): Column =
    ExpressionUtils.column(ArgMinLong(expr(ord), expr(value)).toAggregateExpression())

  /** Fixed-width-buffer lexicographic PAIR min: the smallest (a, b) LONG
    * pair, returned as a struct — semantically `min(struct(a, b))`, but
    * HASH-AGGREGABLE. Spark's Min carries the struct ITSELF in its
    * aggregation buffer, and a struct-typed buffer field disqualifies
    * whole-stage HashAggregate — the plan demotes to SortAggregate with
    * no map-side partial reduction (the r12 ArgMinLong / r13 q146 defect
    * class; found a third time in r14 by the BUILDER-surface plan lint,
    * in the duplicated-line dictionary build, where the demoted
    * aggregate sat directly on the corpus×lines digest exchange — the
    * line-dedup family's only corpus-sized shuffle, exactly where losing
    * map-side combine hurts most at 100 TB). The buffer here is two
    * mutable longs (the avg-style shape); the struct exists only in the
    * EVALUATE projection, which no buffer-type constraint touches.
    *
    * Ordering contract (pinned by VectorExprSpec parity with
    * `min(struct(a, b))` on non-null data): strict lexicographic
    * (a asc, b asc). A candidate with a null `a` OR null `b` is skipped
    * outright (the [[ArgMinLong]] null discipline, including its
    * null-seeding guard); an all-null group evaluates to a null struct.
    */
  case class MinLongPair(a: Expression, b: Expression)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
      with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, CreateNamedStruct, EqualTo, If, IsNotNull, IsNull,
      LessThan, Literal, Or}
    override def left: Expression = a
    override def right: Expression = b
    override def prettyName: String = "min_long_pair"
    override def nullable: Boolean = true
    override def dataType: DataType = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (a.dataType == LongType && b.dataType == LongType) {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      } else {
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"min_long_pair requires (BIGINT, BIGINT), got " +
            s"(${a.dataType.simpleString}, ${b.dataType.simpleString})")
      }
    private lazy val minA = AttributeReference("minA", LongType)()
    private lazy val minB = AttributeReference("minB", LongType)()
    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(minA, minB)
    override lazy val initialValues: Seq[Expression] =
      Seq(Literal.create(null, LongType), Literal.create(null, LongType))
    // the ArgMinLong `beats`: fully-non-null candidate AND (empty buffer —
    // keyed on minA, null iff nothing ever won — or strictly smaller a, or
    // equal a with smaller b); the IsNotNull guard prevents a null
    // candidate from seeding and then permanently freezing the buffer
    private def beats(bA: Expression, bB: Expression,
        nA: Expression, nB: Expression): Expression =
      And(And(IsNotNull(nA), IsNotNull(nB)),
        Or(IsNull(bA),
          Or(LessThan(nA, bA), And(EqualTo(nA, bA), LessThan(nB, bB)))))
    override lazy val updateExpressions: Seq[Expression] = {
      val w = beats(minA, minB, a, b)
      Seq(If(w, a, minA), If(w, b, minB))
    }
    override lazy val mergeExpressions: Seq[Expression] = {
      val w = beats(minA.left, minB.left, minA.right, minB.right)
      Seq(If(w, minA.right, minA.left), If(w, minB.right, minB.left))
    }
    override lazy val evaluateExpression: Expression =
      If(IsNull(minA), Literal.create(null, dataType),
        CreateNamedStruct(Seq(Literal("a"), minA, Literal("b"), minB)))
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MinLongPair =
      copy(a = newLeft, b = newRight)
  }

  /** Column wrapper for [[MinLongPair]] — use inside `.agg(...)`. */
  def minLongPair(a: Column, b: Column): Column =
    ExpressionUtils.column(MinLongPair(expr(a), expr(b)).toAggregateExpression())

  def l2(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Distance(expr(a), expr(b)))
  def l2sq(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Squared(expr(a), expr(b)))
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(expr(a), expr(b)))
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(expr(a), expr(b)))
  def lshHash(v: Column, model: LshModel): Column =
    ExpressionUtils.column(LshHash(expr(v), model))
  def nearestCells(v: Column, cents: CentroidSet, n: Int): Column =
    ExpressionUtils.column(NearestCells(expr(v), cents, n))
  def pqEncode(v: Column, model: graft.operators.Pq.PqModel): Column =
    ExpressionUtils.column(PqEncode(expr(v), model))
  def sq8Encode(v: Column, model: graft.operators.Pq.SqModel): Column =
    ExpressionUtils.column(Sq8Encode(expr(v), model))
  def bqEncode(v: Column, model: graft.operators.Pq.BqModel): Column =
    ExpressionUtils.column(BqEncode(expr(v), model))

  private def expr(c: Column): Expression = ExpressionUtils.expression(c)
}

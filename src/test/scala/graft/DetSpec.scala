package graft

import org.apache.spark.sql.functions._

import graft.operators.Det

/** Pins the [[graft.operators.Det]] quantizer CONTRACT (r11 boundary-exact
  * rounding discipline, BASELINE.md): every form is the explicit half-up
  * `floor(x · 10^s + 0.5)` IEEE op sequence, so a Spark evaluation, a
  * driver-side `math.floor` recompute, and the DuckDB oracle twin
  * (`sqlScaled`/`sqlQuant`/`sqlDisplay` spell the same expression) are
  * bit-identical — including ON the .5 boundaries where the engines' own
  * `round(double, n)` implementations (decimal-string vs binary) may
  * disagree. RoundingLintSpec keeps `round(` out of main source; this spec
  * keeps the floor forms' semantics from drifting.
  */
class DetSpec extends SparkSpec {

  /** The driver-side twin of Det.display — the same op sequence. */
  private def disp(x: Double, dp: Int): Double = {
    val p = math.pow(10, dp)
    math.floor(x * p + 0.5) / p
  }

  private def evalDisplay(x: Double, dp: Int): Double = {
    import spark.implicits._
    Seq(x).toDF("x").select(Det.display(col("x"), dp).as("d"))
      .collect()(0).getDouble(0)
  }

  private def evalQuant(x: Double, scale: Int): Long = {
    import spark.implicits._
    Seq(x).toDF("x").select(Det.quant(col("x"), scale).as("q"))
      .collect()(0).getLong(0)
  }

  test("display matches the driver floor recompute on adversarial values") {
    // exact-rational boundaries (the q62 class: micro-sums ending in 50),
    // the classic 1.005 double trap, negatives, zeros, and plain values
    val xs = Seq(
      8.93785, 0.00125, 1.005, 2.675, -1.005, -0.00125, 0.0, -0.0,
      0.5, -0.5, 0.00005, -0.00005, 123.456789, -123.456789,
      1e-12, -1e-12, 987654.32105)
    xs.foreach { x =>
      val got = evalDisplay(x, 4)
      val want = disp(x, 4)
      // bit-identical, not approximately equal — that IS the contract
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want) || (got == 0.0 && want == 0.0),
        s"display($x, 4): spark=$got driver=$want")
    }
  }

  test("quant is half-up toward +inf on exact negative boundaries") {
    // floor(x + 1/2): -2.5 -> -2 (NOT the old half-away -3). Both engines
    // and the kernels (CentroidAgg, MMR ppm) share this convention; it
    // only differs from half-away exactly ON a negative .5 boundary, and
    // no compared fixture column produces one (cent-grid inputs).
    assert(evalQuant(-2.5, 0) == -2L)
    assert(evalQuant(2.5, 0) == 3L)
    assert(evalQuant(-2.4999999, 0) == -2L)
    assert(evalQuant(-2.5000001, 0) == -3L)
    // scaled boundary: value with scale+1 decimals ending in 5
    assert(evalQuant(1.005, 2) == math.floor(1.005 * 100.0 + 0.5).toLong)
  }

  test("display propagates null and passes non-finite inputs through") {
    import spark.implicits._
    // Spark's long-typed floor would saturate NaN/Inf (DuckDB's double
    // floor propagates them) — display's guard pins the pass-through so
    // the engines stay aligned on degenerate scores (Det scaladoc).
    val r = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (null, Double.PositiveInfinity, Double.NaN))
      .toDF("a", "b", "c")
      .select(Det.display(col("a"), 4).as("na"),
        Det.display(col("b"), 4).as("inf"),
        Det.display(col("c"), 4).as("nan"))
      .collect()(0)
    assert(r.isNullAt(0), "null in -> null out")
    assert(r.getDouble(1).isPosInfinity, s"+Inf in -> +Inf out, got ${r.getDouble(1)}")
    assert(r.getDouble(2).isNaN, s"NaN in -> NaN out, got ${r.getDouble(2)}")
  }

  test("displayValue, the driver twin, equals the Column form bit for bit") {
    import spark.implicits._
    // non-finites, both zeros, exact x.xxxx5 ties (dyadic, so the tie is
    // exact), negatives, and magnitudes whose scaled floor saturates LONG
    val xs = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
      0.03125, 1.03125, -0.03125, -1.03125, 0.00005, -0.00005, 2.675, -123.456789,
      987654.32105, 1e15, -1e15, 9.3e14, 1e300, -1e300, Double.MaxValue, Double.MinValue)
    val spark4 = xs.toDF("x").select(Det.display(col("x"), 4)).collect().map(_.getDouble(0))
    xs.zip(spark4).foreach { case (x, want) =>
      val got = Det.displayValue(x, 4)
      assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
        s"displayValue($x, 4) = $got, display = $want")
    }
  }

  // ---- r12: the boundary class, property-sampled (verdict order #6) ----
  // DetSpec above pins hand-picked adversarial values; these properties
  // sample the EXACT-.5-boundary classes across magnitudes and signs —
  // the q62 class where the engines' own round() provably diverges — and
  // assert the floor(+½) sequence equals a BigDecimal ground truth
  // (half-toward-+∞, the documented convention) and that Spark's
  // evaluation is bit-identical to the driver/DuckDB-twin op sequence.

  private def forAllGen[A](gen: org.scalacheck.Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(62L)
    var i = 0
    while (i < n) {
      gen.apply(org.scalacheck.Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def halfTowardPosInf(neg: Boolean): java.math.RoundingMode =
    if (neg) java.math.RoundingMode.HALF_DOWN else java.math.RoundingMode.HALF_UP

  test("property: micro%100==50 boundary class matches BigDecimal ground truth (dp=0)") {
    // micro = 100·m + 50 ⇒ micro/100.0 is EXACTLY m.5 (representable for
    // |m| < 2^52; IEEE division is correctly rounded ⇒ exact). The display
    // sequence floor(x·10^0 + 0.5) must agree with decimal half-toward-+∞
    // arithmetic ON the boundary — the claim the q62 fix rests on.
    val microGen = org.scalacheck.Gen.chooseNum(-40000000000000L, 40000000000000L)
      .map(m => m * 100 + 50)
    forAllGen(microGen) { micro =>
      val x = micro / 100.0
      val got = math.floor(x * math.pow(10, 0) + 0.5) // Det.display dp=0 sequence
      val gt = java.math.BigDecimal.valueOf(micro)
        .divide(java.math.BigDecimal.valueOf(100))
        .setScale(0, halfTowardPosInf(micro < 0))
      assert(got.toLong == gt.longValueExact, s"micro=$micro: floor-seq $got vs decimal $gt")
    }
  }

  test("property: exact .00005 boundaries match BigDecimal ground truth (dp=4)") {
    // Dyadic construction: x = oddK/32 is exact, and x·10^4 = 312.5·oddK
    // is EXACTLY a .5 boundary (odd × 312.5) — the 4-dp twin of the micro
    // class, covering the multiply-then-floor path display actually runs
    // at dp=4. Magnitude bound: m.5 is representable only below 2^52
    // (double spacing hits 1.0 there), so 312.5·|oddK| must stay under it
    // ⇒ |k| ≤ 6e12. (The first run of this property found the bound the
    // hard way: at |x·10^4| ≈ 5e15 the .5 premise silently broke.)
    val oddGen = org.scalacheck.Gen.chooseNum(-6000000000000L, 6000000000000L)
      .map(k => 2 * k + 1)
    forAllGen(oddGen) { oddK =>
      val x = oddK / 32.0
      val got = math.floor(x * math.pow(10, 4) + 0.5) // Det.display dp=4 sequence
      val gt = java.math.BigDecimal.valueOf(oddK)
        .divide(java.math.BigDecimal.valueOf(32))
        .setScale(4, halfTowardPosInf(oddK < 0))
      assert(got.toLong == gt.movePointRight(4).longValueExact,
        s"oddK=$oddK: floor-seq $got vs decimal $gt")
    }
  }

  test("property: spark display is bit-identical to the driver op sequence, batched") {
    import spark.implicits._
    // One job over all sampled classes: both exact-boundary families plus
    // arbitrary finite doubles (where ground truth is not decimal — the
    // contract there is only cross-engine bit-identity of the sequence).
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    forAllGen(org.scalacheck.Gen.chooseNum(-40000000000000L, 40000000000000L), 150) {
      m => samples += (m * 100 + 50) / 100.0 / 1e4
    }
    forAllGen(org.scalacheck.Gen.chooseNum(-6000000000000L, 6000000000000L), 150) {
      k => samples += (2 * k + 1) / 32.0
    }
    forAllGen(org.scalacheck.Gen.chooseNum(-1e9, 1e9), 100)(samples += _)
    val rows = samples.toSeq.toDF("x")
      .select(col("x"), Det.display(col("x"), 4).as("d4"), Det.display(col("x"), 0).as("d0"))
      .collect()
    rows.foreach { r =>
      val x = r.getDouble(0)
      Seq((r.getDouble(1), disp(x, 4), 4), (r.getDouble(2), disp(x, 0), 0)).foreach {
        case (got, want, dp) =>
          assert(java.lang.Double.doubleToRawLongBits(got) ==
            java.lang.Double.doubleToRawLongBits(want) || (got == 0.0 && want == 0.0),
            s"display($x, $dp): spark=$got driver=$want")
      }
    }
  }

  test("sql twins spell the same op sequence as the Column forms") {
    // lockstep guard: the DuckDB-side strings must keep the identical
    // floor(+0.5) shape (double literals, same scale factor) or the
    // bit-identity argument above silently evaporates
    assert(Det.sqlQuant("x", 6) == "CAST(floor((x) * 1000000.0 + 0.5) AS BIGINT)")
    assert(Det.sqlScaled("x", 2) == "CAST(floor((x) * 100.0 + 0.5) AS BIGINT)")
    assert(Det.sqlDisplay("x", 4) == "(floor((x) * 10000.0 + 0.5) / 10000.0)")
  }
}

package graft

import graft.functions.{IndexExpr, IndexExpressions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit contract for the broadcast index expressions — the numeric rules
  * that keep the ANN oracles cross-engine exact (ties to LOWEST id,
  * HALF_UP rounding BEFORE comparisons, stable (d, id) ordering), plus
  * interpreted-eval ≡ codegen parity (both paths must agree or a
  * fallback-triggering plan change would silently alter results).
  */
class IndexExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bc[T](v: T)(implicit ct: scala.reflect.ClassTag[T]) =
    spark.sparkContext.broadcast(v)

  test("roundTo matches Spark's round() on doubles (HALF_UP, NaN/Inf pass)") {
    val vals = Seq(1.2345645, 1.2345655, -1.2345645, 0.49999999,
      2.675, -2.675, 1e-9, 123456.789, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    import spark.implicits._
    val sparkRounded = vals.toDF("v").select(round(col("v"), 6)).collect()
      .map(_.getDouble(0))
    vals.zip(sparkRounded).foreach { case (v, want) =>
      val got = IndexExpressions.roundTo(6, v)
      assert(got == want || (got.isNaN && want.isNaN), s"$v: $got != $want")
    }
    assert(IndexExpressions.roundTo(-1, 1.23456789) == 1.23456789) // dp<0 = identity
  }

  test("NearestCell/NearestCells: argmin ties break to the LOWEST cell id") {
    import spark.implicits._
    // cells 1 and 2 are identical; cell 0 is farther — the tie must go
    // to cell 1 on both the scalar and multi-probe paths
    val cents = Array(Array(10.0, 10.0), Array(1.0, 2.0), Array(1.0, 2.0))
    val df = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val cell = df.select(IndexExpr.ivfCell(col("v"), bc(cents), 6)).head().getInt(0)
    assert(cell == 1)
    val cells = df.select(IndexExpr.ivfCells(col("v"), bc(cents), 3, 6))
      .head().getSeq[Int](0)
    assert(cells == Seq(1, 2, 0), s"expected (d,id)-ascending, got $cells")
  }

  test("property: element_at(ivfCells(v, k, dp), 1) === ivfCell(v, dp), ties included") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // coordinates on a coarse grid, centroids drawn from a small pool with
    // repeats: equal distances (and duplicate cells) are frequent, so the
    // lowest-id tie rule of both expressions is exercised
    val coord = Gen.oneOf(-1.0, -0.5, 0.0, 0.5, 1.0, 0.25000001)
    val gen = for {
      d <- Gen.choose(1, 3)
      k <- Gen.choose(1, 6)
      pool <- Gen.listOfN(3, Gen.listOfN(d, coord))
      cents <- Gen.listOfN(k, Gen.oneOf(pool))
      nprobe <- Gen.choose(1, k)
      dp <- Gen.oneOf(-1, 0, 2, 6)
      vs <- Gen.listOfN(8, Gen.listOfN(d, Gen.oneOf(coord, Gen.choose(-1.5, 1.5))))
    } yield (cents.map(_.toArray).toArray, nprobe, dp, vs)
    val prop = Prop.forAll(gen) { case (cents, nprobe, dp, vs) =>
      val b = bc(cents)
      val rows = vs.toDF("v").select(
          element_at(IndexExpr.ivfCells(col("v"), b, nprobe, dp), 1),
          IndexExpr.ivfCell(col("v"), b, dp))
        .collect()
      Prop(rows.forall(r => r.getInt(0) == r.getInt(1))) :|
        s"nprobe=$nprobe dp=$dp rows=${rows.toSeq}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("rounding happens BEFORE the argmin (a sub-6dp gap cannot flip a cell)") {
    import spark.implicits._
    // cell 1 is closer by ~1e-9 (below 6dp resolution): with rounding the
    // distances tie and the LOWER id 0 must win; without rounding
    // (roundDp = -1) the true argmin 1 wins
    val cents = Array(Array(0.0), Array(1e-9))
    val df = Seq(Tuple1(Seq(0.5))).toDF("v")
    assert(df.select(IndexExpr.ivfCell(col("v"), bc(cents), 6)).head().getInt(0) == 0)
    assert(df.select(IndexExpr.ivfCell(col("v"), bc(cents), -1)).head().getInt(0) == 1)
  }

  test("PqEncodeExpr ties to the lowest code id; ksub=1 degenerates cleanly") {
    import spark.implicits._
    val cbs = Array(
      Array(Array(1.0, 2.0), Array(1.0, 2.0)), // identical codewords: tie -> 0
      Array(Array(9.0, 9.0)))                  // ksub=1: only code 0
    val df = Seq(Tuple1(Seq(1.0, 2.0, 3.0, 4.0))).toDF("v")
    val codes = df.select(IndexExpr.pqCodes(col("v"), bc(cbs), 6))
      .head().getSeq[Int](0)
    assert(codes == Seq(0, 0))
  }

  test("AdcDistExpr equals the manual per-subspace rounded sum") {
    import spark.implicits._
    val cbs = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(0.5, 0.5), Array(2.0, 2.0)))
    val qv = Seq(0.1, 0.2, 0.3, 0.4)
    val codes = Seq(1, 0)
    val df = Seq((qv, codes)).toDF("qv", "codes")
    val got = df.select(IndexExpr.adcDistance(col("qv"), col("codes"), bc(cbs), 6))
      .head().getDouble(0)
    def r6(d: Double) = IndexExpressions.roundTo(6, d)
    val want = r6(
      r6(math.pow(0.1 - 1.0, 2) + math.pow(0.2 - 1.0, 2)) +
      r6(math.pow(0.3 - 0.5, 2) + math.pow(0.4 - 0.5, 2)))
    assert(got == want)
  }

  test("projectVec matches the composed fold; lshSignature is its sign bits") {
    import spark.implicits._
    val planes = Array(Array(0.5, -0.3, 0.1), Array(-0.2, 0.8, -0.6))
    val df = Seq(Tuple1(Seq(0.25, 0.35, -0.4)), Tuple1(Seq(-0.1, 0.9, 0.2)),
      Tuple1(Seq(0.0, 0.0, 0.0))).toDF("v")
    val rows = df.select(
        IndexExpr.projectVec(col("v"), bc(planes), 6).as("p"),
        IndexExpr.lshSignature(col("v"), bc(planes)).as("sig"))
      .collect()
    for (r <- rows) {
      val p = r.getSeq[Double](0)
      // sign-bit consistency: bucket bit j set iff projection j > 0
      val sig = p.zipWithIndex.collect { case (x, j) if x > 0 => 1 << j }.sum
      assert(r.getInt(1) == sig, s"sig mismatch for $p")
    }
    // exact values vs a driver-side fold (same accumulation order)
    val v0 = Seq(0.25, 0.35, -0.4)
    val want = planes.map(pl =>
      IndexExpressions.roundTo(6, v0.zip(pl).foldLeft(0.0) { case (s, (a, b)) => s + a * b }))
    assert(rows(0).getSeq[Double](0) == want.toSeq)
  }

  test("interpreted eval agrees with codegen for every index expression") {
    import spark.implicits._
    val cents = Array(Array(0.1, 0.2), Array(0.3, 0.1), Array(0.2, 0.4))
    val cbs = Array(Array(Array(0.1), Array(0.4)), Array(Array(0.2), Array(0.3)))
    val planes = Array(Array(0.5, -0.3), Array(-0.2, 0.8))
    val df = Seq(Tuple1(Seq(0.25, 0.35)), Tuple1(Seq(-0.1, 0.9))).toDF("v")
    def cols(d: org.apache.spark.sql.DataFrame) = d.select(
      IndexExpr.ivfCell(col("v"), bc(cents), 6),
      IndexExpr.ivfCells(col("v"), bc(cents), 2, 6),
      IndexExpr.pqCodes(col("v"), bc(cbs), 6),
      IndexExpr.lshSignature(col("v"), bc(planes)),
      IndexExpr.projectVec(col("v"), bc(planes), 6))
    val gen = cols(df).collect().map(_.toString)
    val was = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val factoryWas = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = cols(df).collect().map(_.toString)
      assert(gen.sameElements(interp),
        s"codegen ${gen.toSeq} != interpreted ${interp.toSeq}")
    } finally {
      was.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
      factoryWas.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }
}

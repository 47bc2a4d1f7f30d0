package graft

import org.scalatest.funsuite.AnyFunSuite

/** Coefficients of every solver × family × {dense, sparse, mixed} ×
  * normalize {on, off} fixture ([[GoldenCoef]]) against the hex doubles
  * recorded in `golden_coef.txt` before GlmData stored packed blocks:
  * the block storage, the inline standardization and the ADMM local
  * solve over blocks must not move a single bit. On a different
  * BLAS/LAPACK implementation than the one recorded in the file (Newton's
  * pseudo-inverse goes through LAPACK) the comparison is within 1e-12
  * relative instead. */
class GoldenCoefSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val (libs, golden) = {
    val src = scala.io.Source.fromResource("golden_coef.txt")
    val lines = try src.getLines().toList finally src.close()
    val (header, body) = lines.partition(_.startsWith("#"))
    (header.map(_.stripPrefix("# ").split(" ", 2)).map(a => a(0) -> a(1)).toMap,
     body.map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap)
  }

  private def same(expected: Double, actual: Double, exact: Boolean): Boolean =
    if (exact) java.lang.Double.doubleToLongBits(expected) ==
      java.lang.Double.doubleToLongBits(actual)
    else expected == actual ||
      math.abs(expected - actual) <= 1e-12 * math.max(math.abs(expected), math.abs(actual))

  test("every solver/family/layout/normalize fit equals the recorded coefficients") {
    val exact = libs.get("blas").contains(GoldenCoef.blasClass) &&
      libs.get("lapack").contains(GoldenCoef.lapackClass)
    val outcomes = GoldenCoef.outcomes(spark)
    assert(outcomes.map(_._1).toSet == golden.keySet)
    assert(golden.size == 90)
    val mismatches = outcomes.flatMap { case (key, got) =>
      val want = golden(key)
      val ok = got match {
        case Left(cls) => want == "!" + cls
        case Right(coef) =>
          val w = want.split(" ")
          !want.startsWith("!") && w.length == coef.length &&
            w.indices.forall(i => same(java.lang.Double.parseDouble(w(i)), coef(i), exact))
      }
      if (ok) None
      else Some(s"$key: want $want, got " +
        got.fold("!" + _, _.map(java.lang.Double.toHexString).mkString(" ")))
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("the fixtures cover partitions of several blocks and every layout") {
    val layouts = GoldenCoef.Layouts.map { layout =>
      val blocks = GoldenCoef.data(spark, layout, "logistic").blocks
        .mapPartitions(it => Iterator.single(it.map(b => b.rowPtr == null).toSeq))
        .collect()
      layout -> blocks
    }.toMap
    assert(layouts.values.flatten.exists(_.size > 1), layouts.toString)
    assert(layouts("dense").flatten.forall(identity))
    assert(layouts("sparse").flatten.forall(!_))
    assert(layouts("mixed").flatten.forall(!_))
    assert(layouts("mixed").exists(_.size > 1), layouts.toString)
  }
}

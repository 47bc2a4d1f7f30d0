package graft

import breeze.linalg.DenseVector
import graft.core.GlmData
import graft.families.{Family, Logistic, Normal, Poisson}
import graft.regularizers.Regularizer
import graft.solvers.Solvers
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.sql.SparkSession

/** Golden-coefficient fixtures: every solver × family × storage layout ×
  * normalize setting on fixed synthetic data, with the fitted
  * coefficients written as hex doubles (exact bits). The file
  * `src/test/resources/golden_coef.txt` holds the values recorded before
  * the packed-block storage; [[GoldenCoefSpec]] refits and compares.
  *
  * Regenerate (only when a change is MEANT to move coefficients, and
  * say so in CHANGES.md):
  * {{{
  * sbt "Test/runMain graft.GoldenCoef src/test/resources/golden_coef.txt"
  * }}}
  */
object GoldenCoef {

  val SolverNames = Seq("gradient_descent", "newton", "lbfgs", "proximal_grad", "admm")
  val FamilyByName: Seq[(String, Family)] =
    Seq("logistic" -> Logistic, "normal" -> Normal, "poisson" -> Poisson)
  val Layouts = Seq("dense", "sparse", "mixed")

  /** 2000 rows on 3 partitions, 8 features + the appended intercept. */
  val N = 2000
  val P = 8
  val Partitions = 3
  private val MaxIter = 5

  /** Rows of one fixture: column j has scale 1 + j and offset 0.5·j, so
    * standardization matters. Sparse rows keep ~60 % of their entries;
    * "mixed" makes every third row (from the second) sparse, the first
    * row dense. Labels come from a planted β through the family. */
  def rows(layout: String, family: String): Seq[(MlVector, Double)] = {
    val rng = new scala.util.Random(layout.hashCode * 31 + family.hashCode)
    val beta = Array.tabulate(P)(j => 0.4 * (if (j % 2 == 0) 1 else -1) / (1 + j))
    (0 until N).map { i =>
      val sparseRow = layout == "sparse" || (layout == "mixed" && i % 3 == 1)
      val x = Array.tabulate(P) { j =>
        if (layout != "dense" && rng.nextDouble() < 0.4) 0.0
        else rng.nextGaussian() * (1 + j) + 0.5 * j
      }
      var m = -0.2
      var j = 0
      while (j < P) { m += x(j) * beta(j); j += 1 }
      val y = family match {
        case "logistic" => if (rng.nextDouble() < 1.0 / (1.0 + math.exp(-m))) 1.0 else 0.0
        case "normal" => m + rng.nextGaussian()
        case "poisson" =>
          // Knuth's sampler; the mean is capped so counts stay small
          val l = math.exp(-math.min(math.exp(m), 20.0))
          var k = 0
          var prod = rng.nextDouble()
          while (prod > l) { k += 1; prod *= rng.nextDouble() }
          k.toDouble
      }
      val v: MlVector = if (sparseRow) Vectors.dense(x).toSparse else Vectors.dense(x)
      (v, y)
    }
  }

  /** The fixture as the estimator builds it: intercept appended. */
  def data(spark: SparkSession, layout: String, family: String): GlmData = {
    val rs = rows(layout, family)
    new GlmData(spark.sparkContext.parallelize(rs, Partitions), P,
      isSparse = rs.head._1.isInstanceOf[org.apache.spark.ml.linalg.SparseVector]).addIntercept
  }

  def fit(d: GlmData, solver: String, fam: Family, normalize: Boolean): DenseVector[Double] =
    solver match {
      case "gradient_descent" =>
        Solvers.gradientDescent(d, maxIter = MaxIter, family = fam, normalize = normalize)
      case "newton" =>
        Solvers.newton(d, maxIter = MaxIter, family = fam, normalize = normalize)
      case "lbfgs" =>
        Solvers.lbfgs(d, Regularizer.get("l2"), 1.0, maxIter = MaxIter,
          family = fam, normalize = normalize)
      case "proximal_grad" =>
        Solvers.proximalGrad(d, Regularizer.get("l1"), 0.1, fam,
          maxIter = MaxIter, normalize = normalize)
      case "admm" =>
        Solvers.admm(d, Regularizer.get("l1"), 0.1, maxIter = MaxIter,
          family = fam, normalize = normalize)
    }

  /** `key → coefficients as hex doubles`, or `key → !ExceptionClass`. */
  def key(solver: String, family: String, layout: String, normalize: Boolean): String =
    s"$solver $family $layout ${if (normalize) "norm" else "raw"}"

  def blasClass: String = dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getName
  def lapackClass: String = dev.ludovic.netlib.lapack.LAPACK.getInstance().getClass.getName

  /** Every configuration's outcome, fixtures persisted one at a time. */
  def outcomes(spark: SparkSession): Seq[(String, Either[String, Array[Double]])] =
    for {
      (famName, fam) <- FamilyByName
      layout <- Layouts
      out <- {
        val d = data(spark, layout, famName).persist()
        try for (solver <- SolverNames; norm <- Seq(false, true)) yield
          key(solver, famName, layout, norm) ->
            (try Right(fit(d, solver, fam, norm).toArray)
            catch { case e: Exception => Left(e.getClass.getName) })
        finally d.unpersist()
      }
    } yield out

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0))
    try {
      out.println(s"# blas $blasClass")
      out.println(s"# lapack $lapackClass")
      outcomes(TestSpark.spark).foreach { case (k, r) =>
        out.println(k + "\t" + r.fold("!" + _,
          _.map(java.lang.Double.toHexString).mkString(" ")))
      }
    } finally out.close()
  }
}

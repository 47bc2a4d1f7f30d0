package graft

import breeze.linalg.{DenseVector, norm}
import graft.core.GlmData
import graft.datasets.Datasets
import graft.families.{Logistic, Normal, Poisson}
import graft.linalg.Kernels
import graft.regularizers.Regularizer
import graft.solvers.Solvers
import org.scalatest.funsuite.AnyFunSuite

/** Statistical oracles from test_algos_families.py + test_admm.py. */
class SolversSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def momentGap(data: GlmData, beta: DenseVector[Double]): Double = {
    // |Σσ(Xβ̂) − Σy| — logistic first-order condition (test_algos_families.py:54-69)
    val b = beta.toArray
    val (pSum, ySum) = Kernels.partitionAggregate(data)(() => (0.0, 0.0))(
      { case ((ps, ys), x, y) =>
        val xb = Kernels.dot(x, b)
        (ps + 1.0 / (1.0 + math.exp(-xb)), ys + y)
      },
      { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) })
    math.abs(pSum - ySum)
  }

  test("moment condition: newton / lbfgs / gradient_descent (N=100,p=2)") {
    val data = Datasets.makeInterceptData(spark, 100, 2).persist()
    for (solver <- Seq("newton", "lbfgs", "gradient_descent")) {
      val beta = Solvers.solve(solver, data, Logistic, maxIter = 100,
        tol = if (solver == "newton") 1e-8 else if (solver == "lbfgs") 1e-4 else 1e-14,
        regularizer = null, lamduh = 1.0, rho = 1.0, overRelax = 1.0,
        abstol = 1e-4, reltol = 1e-2, normalize = true)
      assert(momentGap(data, beta) <= 1e-1, s"solver=$solver")
    }
    data.unpersist()
  }

  test("moment condition holds at (N=95,p=6) and (N=250,p=12) too") {
    for ((n, p, seed) <- Seq((95, 6, 70605L), (250, 12, 90210L))) {
      val data = Datasets.makeInterceptData(spark, n, p, seed = seed).persist()
      val beta = Solvers.newton(data)
      assert(momentGap(data, beta) <= 1e-1, s"N=$n p=$p")
      data.unpersist()
    }
  }

  private def fitBeatsRandom(solver: String, familyName: String, regName: String,
      lam: Double, nchunks: Int): Unit = {
    val family = graft.families.Family(familyName)
    val df = Datasets.makeClassification(spark, nSamples = 1000, nFeatures = 2,
      chunksize = 1000 / nchunks, seed = 12345)
    val data = GlmData.fromDF(df, numFeatures = 2).persist()
    val reg = Regularizer.get(regName)
    val beta = Solvers.solve(solver, data, family, maxIter = 100,
      tol = 1e-7, regularizer = reg, lamduh = lam, rho = 1.0, overRelax = 1.0,
      abstol = 1e-4, reltol = 1e-2, normalize = true)
    val rng = new scala.util.Random(987)
    val testVec = DenseVector.fill(2)(rng.nextGaussian())
    val fLoss = Kernels.loss(data, beta, family) + lam * reg.f(beta)
    val rLoss = Kernels.loss(data, testVec, family) + lam * reg.f(testVec)
    data.unpersist()
    assert(fLoss < rLoss, s"$solver/$familyName/$regName λ=$lam chunks=$nchunks: $fLoss !< $rLoss")
  }

  test("regularized fits beat a random vector (admm & proximal_grad grid)") {
    for {
      solver <- Seq("admm", "proximal_grad")
      fam <- Seq("logistic", "normal", "poisson")
      reg <- Seq("l1", "l2", "elastic_net")
      lam <- Seq(0.01, 1.2)
    } fitBeatsRandom(solver, fam, reg, lam, nchunks = 4)
  }

  test("proximal_grad past the first probe pass: badly scaled normal fit") {
    // features ×1e4 and no normalize: the Lipschitz constant is ~1e11, so
    // every step of the first 10-chunk (1 … 1e-9) raises the loss —
    // candidates 0–1 are rejected, the rest of the chunk runs in a second
    // pass and the accept falls in a later 10-chunk
    val df = Datasets.makeClassification(spark, nSamples = 1000, nFeatures = 2,
      chunksize = 250, seed = 12345)
    val base = GlmData.fromDF(df, numFeatures = 2)
    val data = new GlmData(base.rows.map { case (x, y) =>
      (org.apache.spark.ml.linalg.Vectors.dense(x.toArray.map(_ * 1e4)), y) },
      2, isSparse = false).persist()
    val reg = Regularizer.get("l2")
    val lam = 0.1
    val zero = DenseVector.zeros[Double](2)
    val (l0, g0) = Kernels.lossGrad(data, zero, Normal)
    for (j <- 0 until 10) {
      val s = math.pow(0.1, j)
      val cand = reg.proximalOperator(zero - g0 * s, s * lam)
      assert(Kernels.loss(data, cand, Normal) >= l0, s"step $s is accepted")
    }
    def fit() = Solvers.proximalGrad(data, reg, lam, Normal, maxIter = 100,
      tol = 1e-7, normalize = false)
    val beta = fit()
    assert(beta == fit(), "not deterministic")
    val rng = new scala.util.Random(987)
    val testVec = DenseVector.fill(2)(rng.nextGaussian())
    val fLoss = Kernels.loss(data, beta, Normal) + lam * reg.f(beta)
    val rLoss = Kernels.loss(data, testVec, Normal) + lam * reg.f(testVec)
    data.unpersist()
    assert(fLoss < rLoss, s"$fLoss !< $rLoss")
  }

  test("unregularized fits beat a random vector (newton/lbfgs/gd × families)") {
    for {
      solver <- Seq("newton", "lbfgs", "gradient_descent")
      fam <- Seq("logistic", "normal", "poisson")
    } {
      val family = graft.families.Family(fam)
      val df = Datasets.makeClassification(spark, nSamples = 1000, nFeatures = 2,
        chunksize = 250, seed = 5150)
      val data = GlmData.fromDF(df, numFeatures = 2).persist()
      val beta = Solvers.solve(solver, data, family, maxIter = 100,
        tol = 1e-7, regularizer = null, lamduh = 1.0, rho = 1.0, overRelax = 1.0,
        abstol = 1e-4, reltol = 1e-2, normalize = true)
      val rng = new scala.util.Random(42)
      val testVec = DenseVector.fill(2)(rng.nextGaussian())
      val fLoss = Kernels.loss(data, beta, family)
      val rLoss = Kernels.loss(data, testVec, family)
      data.unpersist()
      assert(fLoss < rLoss, s"$solver/$fam")
    }
  }

  test("lbfgs+l1 routes to OWLQN: sparse solution beats a random vector") {
    val df = Datasets.makeClassification(spark, nSamples = 1000, nFeatures = 4,
      chunksize = 250, seed = 31337)
    val data = GlmData.fromDF(df, numFeatures = 4).persist()
    val reg = Regularizer.get("l1")
    val lam = 0.5
    val beta = Solvers.lbfgs(data, regularizer = reg, lamduh = lam, maxIter = 100,
      tol = 1e-6)
    val rng = new scala.util.Random(77)
    val testVec = DenseVector.fill(4)(rng.nextGaussian())
    val fLoss = Kernels.loss(data, beta, Logistic) + lam * reg.f(beta)
    val rLoss = Kernels.loss(data, testVec, Logistic) + lam * reg.f(testVec)
    data.unpersist()
    assert(fLoss < rLoss)
  }

  test("admm with huge lambda shrinks beta to zero (test_admm.py:50-66)") {
    val df = Datasets.makeClassification(spark, nSamples = 1000, nFeatures = 5,
      chunksize = 200, seed = 2)
    val data = GlmData.fromDF(df, numFeatures = 5).persist()
    val beta = Solvers.admm(data, regularizer = Regularizer.get("l1"),
      lamduh = 1e5, rho = 20, maxIter = 500)
    data.unpersist()
    assert(breeze.linalg.max(breeze.numerics.abs(beta)) <= 1e-4)
  }

  test("sparse backend: admm & lbfgs fits pass the oracles, no densify") {
    // the reference's sparse-backend grid row (test_algos_families.py:
    // 84-138 array_type='sparse' via make_array_type) + the no-densify
    // contract implicit in its sparse.COO storage: rows must STAY
    // SparseVector through addIntercept and the solver passes
    val df = Datasets.makeClassification(spark, nSamples = 1000,
      nFeatures = 2, chunksize = 250, seed = 5150, isSparse = true)
    val base = GlmData.fromDF(df)
    assert(base.isSparse, "sparse storage must be detected from the first row")
    val data = base.addIntercept.persist()
    // partition-level inspection: every row is still a SparseVector
    val classes = data.rows.mapPartitions(it =>
        Iterator.single(it.map(_._1.getClass.getSimpleName).toSet))
      .collect().reduce(_ ++ _)
    assert(classes == Set("SparseVector"), s"sparse path densified: $classes")
    // estimator contract: normalize auto-disables for sparse input
    // (estimators.py:82-84 — centering would densify); fit through the
    // estimator so that branch is the one under test
    for (solverName <- Seq("admm", "lbfgs")) {
      val est = new graft.estimators.LogisticRegression(
        graft.estimators.GlmParams(solver = solverName, regularizer = "l2",
          lamduh = 0.01, maxIter = 100))
      est.fit(df)
      val beta = est.rawCoef
      val rng = new scala.util.Random(987)
      val testVec = DenseVector.fill(3)(rng.nextGaussian())
      val fLoss = Kernels.loss(data, beta, Logistic)
      val rLoss = Kernels.loss(data, testVec, Logistic)
      assert(fLoss < rLoss, s"sparse $solverName: $fLoss !< $rLoss")
      // unregularized-quality fit at small lambda: moment condition holds
      val gap = momentGap(data, beta)
      assert(gap <= 2.0, s"sparse $solverName moment gap $gap")
    }
    data.unpersist()
  }

  test("determinism: same input, same partitioning => bit-identical (maxIter=2)") {
    for (solver <- Seq("admm", "proximal_grad", "newton", "gradient_descent")) {
      val d1 = Datasets.makeInterceptData(spark, 1000, 10)
      val a = Solvers.solve(solver, d1, Logistic, maxIter = 2, tol = 1e-8,
        regularizer = Regularizer.get("l1"), lamduh = 0.1, rho = 1.0,
        overRelax = 1.0, abstol = 1e-4, reltol = 1e-2, normalize = true)
      val d2 = Datasets.makeInterceptData(spark, 1000, 10)
      val b = Solvers.solve(solver, d2, Logistic, maxIter = 2, tol = 1e-8,
        regularizer = Regularizer.get("l1"), lamduh = 0.1, rho = 1.0,
        overRelax = 1.0, abstol = 1e-4, reltol = 1e-2, normalize = true)
      assert(a == b, s"solver=$solver not deterministic")
    }
  }
}

package graft.solvers

import breeze.linalg.{pinv, DenseMatrix, DenseVector}
import breeze.optimize.{DiffFunction, FirstOrderException, LBFGS}
import graft.core.{GlmData, RowCursor}
import graft.families.{Family, Logistic}
import graft.linalg.Kernels
import graft.regularizers.Regularizer

/** The five reference solvers (algorithms.py:89-514) as driver-orchestrated
  * loops over single-pass kernels. Control flow is a faithful port of the
  * reference's loop structure; the distributed plan per iteration is the
  * same or strictly fewer jobs. Line-search probes are batched into ladder
  * passes instead of one job per probe, and gradient descent and proximal
  * gradient take the next iteration's gradient from the pass that accepted
  * the step, so they run ONE Spark job per iteration in the common case
  * (candidate 0 or 1 accepted) instead of a gradient pass plus a probe pass.
  */
object Solvers {

  /** Control-flow signal for the maxFun evaluation cap: thrown by the
    * counting wrapper in [[safeLbfgs]] once the objective has been
    * evaluated maxFun times, caught there, never escapes. */
  private[graft] final class MaxFunReached extends RuntimeException(
    null, null, false, false)

  /** Breeze LBFGS that tolerates line-search failures by returning the last
    * completed iterate (scipy's fmin_l_bfgs_b similarly returns its best-
    * so-far instead of raising).
    *
    * `maxFun` caps objective EVALUATIONS separately from iterations —
    * the reference's ADMM local solver runs
    * fmin_l_bfgs_b(maxiter=200, maxfun=250) (algorithms.py:345), where
    * a single iteration's line search may evaluate several times; a
    * pathological line search could otherwise spend far more than
    * maxIter evaluations. The cap stops AT eval maxFun+1 (scipy stops
    * when the count exceeds maxfun) and returns the last completed
    * iterate, exactly the line-search-failure fallback path. */
  private[graft] def safeLbfgs(
      f: DiffFunction[DenseVector[Double]],
      init: DenseVector[Double],
      maxIter: Int,
      m: Int = 10,
      tol: Double = 1e-5,
      maxFun: Int = Int.MaxValue): DenseVector[Double] = {
    val opt = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = m, tolerance = tol)
    val counted =
      if (maxFun == Int.MaxValue) f
      else new DiffFunction[DenseVector[Double]] {
        private var evals = 0
        def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = {
          evals += 1
          if (evals > maxFun) throw new MaxFunReached
          f.calculate(x)
        }
      }
    var last = init
    try {
      val it = opt.iterations(counted, init)
      while (it.hasNext) last = it.next().x
    } catch { case _: FirstOrderException | _: MaxFunReached => () }
    last
  }

  // ---------------------------------------------------------------- GD

  /** Candidates in an iteration's first probe pass. Growth ×1.25 after a
    * success and backtrack ×0.5 make candidate 0 or 1 the usual accept, so
    * the rest of the first 10-chunk runs in a second pass only when both
    * are rejected; later chunks run whole. */
  private val FirstPass = 2

  /** Pass bounds [lo, hi) over the first `n` candidates of the ladder
    * chunk that starts at candidate `ii`; no pass when `n` is 0. */
  private def probePasses(ii: Int, n: Int): Iterator[(Int, Int)] =
    if (n == 0) Iterator.empty
    else if (ii == 0 && n > FirstPass) Iterator((0, FirstPass), (FirstPass, n))
    else Iterator.single((0, n))

  /** Full-batch gradient descent with Armijo backtracking line search
    * (algorithms.py:27-167). The candidate step ladder
    * s_i = stepSize·backtrackMult^i is evaluated in batched single-pass
    * chunks of 10, the first chunk split after candidate 1
    * ([[probePasses]]); acceptance order is identical to the sequential
    * reference. Each ladder pass also returns the candidates' gradients,
    * taken at the ladder margin x·β − s·x·dir (the reference's incremental
    * `Xbeta`, SURVEY §O3), and the accepted candidate's (loss, gradient)
    * seeds the next iteration: ONE Spark job per iteration in the common
    * case, with a fused [[Kernels.lossGrad]] pass only on the first
    * iteration or after a ladder that accepted nothing. */
  def gradientDescent(
      data: GlmData,
      maxIter: Int = 100,
      tol: Double = 1e-14,
      family: Family = Logistic,
      normalize: Boolean = true): DenseVector[Double] =
    Normalize(data, normalize) { d =>
      val p = d.numFeatures
      val armijoMult = 0.1
      val stepGrowth = 1.25
      var backtrackMult = 0.1 // firstBacktrackMult; 0.5 after iter 0
      var stepSize = 1.0
      var beta = DenseVector.zeros[Double](p)
      var func = 0.0
      var haveFunc = false
      var carried: (Double, DenseVector[Double]) = null

      var k = 0
      var done = false
      while (k < maxIter && !done) {
        // the accepted ladder candidate's (loss, gradient), else one fused
        // loss+grad pass; the loss refreshes func on recalc iterations
        val (freshFunc, grad) =
          if (carried != null) carried else Kernels.lossGrad(d, beta, family)
        carried = null
        if (k % 10 == 0 || !haveFunc) { func = freshFunc; haveFunc = true }

        val lf = func
        val steplen = grad dot grad
        val obeta = beta

        // --- backtracking ladder (batched; same candidates as reference)
        var accepted = false
        var ii = 0
        var zeroStep = false
        var lastFunc = func
        while (ii < 100 && !accepted && !zeroStep) {
          val chunk = math.min(10, 100 - ii)
          val steps = Array.tabulate(chunk)(j => stepSize * math.pow(backtrackMult, j))
          // the reference stops with stepSize=0 when the candidate no longer
          // moves beta (underflow), checked before evaluating its loss
          var stop = -1
          var j = 0
          while (j < chunk && stop < 0) {
            val idx = ii + j
            if (idx > 0) {
              val moved = (0 until p).exists(i => obeta(i) - steps(j) * grad(i) != obeta(i))
              if (!moved) stop = j
            }
            j += 1
          }
          val evalN = if (stop >= 0) stop else chunk
          val passes = probePasses(ii, evalN)
          while (passes.hasNext && !accepted) {
            val (lo, hi) = passes.next()
            val (losses, grads) =
              Kernels.lossLadder(d, obeta, grad, steps.slice(lo, hi), family)
            var jj = lo
            while (jj < hi && !accepted) {
              lastFunc = losses(jj - lo)
              val s = steps(jj)
              val df = lf - lastFunc
              if (df >= armijoMult * s * steplen) {
                accepted = true
                stepSize = s
                func = lastFunc
                carried = (lastFunc, grads(jj - lo))
              }
              jj += 1
            }
          }
          if (stop >= 0 && !accepted) { stepSize = 0.0; zeroStep = true; func = lastFunc }
          if (!accepted && !zeroStep) stepSize *= math.pow(backtrackMult, chunk)
          ii += chunk
        }
        if (!accepted && !zeroStep) func = lastFunc

        beta = obeta - grad * stepSize
        if (stepSize == 0.0) done = true
        else {
          val df = (lf - func) / math.max(func, lf)
          if (df < tol) done = true
          else {
            stepSize *= stepGrowth
            backtrackMult = 0.5
          }
        }
        k += 1
      }
      beta
    }

  // ------------------------------------------------------------ Newton

  /** Newton–Raphson (algorithms.py:170-221): ONE fused grad+Hessian pass
    * per iteration; driver solve via SVD pseudo-inverse to match
    * `np.linalg.lstsq`'s minimum-norm behavior on singular H. */
  def newton(
      data: GlmData,
      maxIter: Int = 50,
      tol: Double = 1e-8,
      family: Family = Logistic,
      normalize: Boolean = true): DenseVector[Double] =
    Normalize(data, normalize) { d =>
      val p = d.numFeatures
      var beta = DenseVector.zeros[Double](p)
      var iterCount = 0
      var converged = false
      while (!converged) {
        val betaOld = beta
        val (grad, hess) = Kernels.gradHess(d, beta, family)
        val step = lstsq(hess, grad)
        beta = betaOld - step
        iterCount += 1
        val maxChange = breeze.linalg.max(breeze.numerics.abs(betaOld - beta))
        converged = (maxChange <= tol) || (iterCount > maxIter)
      }
      beta
    }

  /** Minimum-norm least-squares solve (np.linalg.lstsq semantics). */
  private[graft] def lstsq(
      a: DenseMatrix[Double],
      b: DenseVector[Double]): DenseVector[Double] =
    pinv(a) * b

  // ------------------------------------------------------------- LBFGS

  /** Global L-BFGS (algorithms.py:351-419): Breeze LBFGS on the driver,
    * each objective evaluation = ONE fused loss+grad pass with β shipped
    * via closure (≙ scatter, utils.py:208-215). Regularizer wrapping uses
    * the reference's penalized loss/gradient closures (add_reg_f/grad).
    *
    * Deviation from the reference (SURVEY §7.1.8): a pure-L1 regularizer
    * routes to Breeze OWLQN (orthant-wise L-BFGS) — the reference's
    * penalized-gradient form is undefined at β=0 and raises on its own
    * default start. Elastic net keeps the reference's raise semantics. */
  def lbfgs(
      data: GlmData,
      regularizer: Regularizer = null,
      lamduh: Double = 1.0,
      maxIter: Int = 100,
      tol: Double = 1e-4,
      family: Family = Logistic,
      normalize: Boolean = true): DenseVector[Double] =
    Normalize(data, normalize) { d =>
      val p = d.numFeatures
      // exact-class test: OWLQN owns the L1 term only for PLAIN l1 —
      // a subclass (hypothetically ElasticNet, which today extends
      // Regularizer directly) must take the smooth-composition path
      val pureL1 = regularizer != null &&
        regularizer.getClass == classOf[graft.regularizers.L1]
      val diff = new DiffFunction[DenseVector[Double]] {
        def calculate(beta: DenseVector[Double]): (Double, DenseVector[Double]) = {
          // same arithmetic as Regularizer.addRegF/addRegGrad (the
          // reference's add_reg_* closures), inlined because lossGrad
          // fuses loss+grad into ONE distributed pass — the helpers
          // compose separate loss and grad closures and would scan twice
          val (l, g) = Kernels.lossGrad(d, beta, family)
          if (regularizer == null || pureL1) (l, g) // OWLQN owns the L1 term
          else
            (l + lamduh * regularizer.f(beta),
             g + regularizer.gradient(beta) * lamduh)
        }
      }
      if (pureL1) {
        val opt = new breeze.optimize.OWLQN[Int, DenseVector[Double]](
          maxIter, 10, lamduh, tol)
        var last = DenseVector.zeros[Double](p)
        try {
          val it = opt.iterations(diff, last)
          while (it.hasNext) last = it.next().x
        } catch { case _: FirstOrderException => () }
        last
      } else
        safeLbfgs(diff, DenseVector.zeros[Double](p), maxIter = maxIter, tol = tol)
    }

  // ----------------------------------------------------- proximal grad

  /** ISTA with backtracking (algorithms.py:422-505). Each probe's candidate
    * β is a prox image, so probes ship candidate βs and evaluate their
    * losses and gradients in batched single passes (lossMulti), 10-chunks
    * with the first split after candidate 1 ([[probePasses]]). Every
    * probed candidate becomes β in turn (the reference's loop), so the
    * last probed candidate's (loss, gradient) — exact, bit-identical to a
    * [[Kernels.lossGrad]] pass there — seeds the next iteration: ONE Spark
    * job per iteration in the common case, lossGrad only on the first. */
  def proximalGrad(
      data: GlmData,
      regularizer: Regularizer = Regularizer.get("l1"),
      lamduh: Double = 0.1,
      family: Family = Logistic,
      maxIter: Int = 100,
      tol: Double = 1e-8,
      normalize: Boolean = true): DenseVector[Double] =
    Normalize(data, normalize) { d =>
      val p = d.numFeatures
      val stepGrowth = 1.25
      var backtrackMult = 0.1
      var stepSize = 1.0
      var beta = DenseVector.zeros[Double](p)
      var func = 0.0
      var haveFunc = false
      var carried: (Double, DenseVector[Double]) = null

      var k = 0
      var done = false
      while (k < maxIter && !done) {
        val (freshFunc, gradient) =
          if (carried != null) carried else Kernels.lossGrad(d, beta, family)
        if (k % 10 == 0 || !haveFunc) { func = freshFunc; haveFunc = true }

        val obeta = beta
        val lf = func
        var df = 0.0
        var accepted = false
        var ii = 0
        while (ii < 100 && !accepted) {
          val chunk = math.min(10, 100 - ii)
          val steps = Array.tabulate(chunk)(j => stepSize * math.pow(backtrackMult, j))
          val candidates = steps.map(s =>
            regularizer.proximalOperator(obeta - gradient * s, s * lamduh))
          val passes = probePasses(ii, chunk)
          while (passes.hasNext && !accepted) {
            val (lo, hi) = passes.next()
            val (losses, grads) = Kernels.lossMulti(d, candidates.slice(lo, hi), family)
            var j = lo
            while (j < hi && !accepted) {
              beta = candidates(j)
              func = losses(j - lo)
              carried = (func, grads(j - lo))
              df = lf - func
              if (df > 0) { accepted = true; stepSize = steps(j) }
              j += 1
            }
          }
          if (!accepted) stepSize *= math.pow(backtrackMult, chunk)
          ii += chunk
        }
        if (stepSize == 0.0) done = true
        else {
          df /= math.max(func, lf)
          if (df < tol) done = true
          else {
            stepSize *= stepGrowth
            backtrackMult = 0.5
          }
        }
        k += 1
      }
      beta
    }

  // --------------------------------------------------------------- ADMM

  /** Consensus ADMM (algorithms.py:224-348): per iteration ONE
    * mapPartitionsWithIndex job — partition i runs a local Breeze L-BFGS on
    * its rows (≙ scipy fmin_l_bfgs_b in a worker, algorithms.py:339-348) —
    * then O(k·p) driver math for the z/u/residual updates. The unit of
    * parallelism is the Spark partition (≙ dask chunk, algorithms.py:288):
    * `nchunks = data.numPartitions`, so the consensus split — and hence
    * the iterate sequence — is a deterministic function of the input's
    * partitioning, exactly as the reference's depends on its chunking.
    * Control it with `GlmData.repartition(n)` (≙ `X.rechunk`,
    * algorithms.py:294-298) before calling.
    *
    * Scale note: the driver holds the k×p consensus state (βs, duals) —
    * the reference's own shape (algorithms.py:302-312). At 100 TB keep
    * the CHUNK count O(cluster cores), e.g. repartition to 10³–10⁴, not
    * one chunk per 128 MB input split (10⁵–10⁶): bigger local problems
    * converge in fewer consensus rounds AND keep the driver state in MBs.
    * For extreme partition counts prefer lbfgs/gradient_descent, whose
    * reductions are O(p) trees with no per-chunk driver state.
    *
    * Executor-memory bound: the x-update reads the partition's cached
    * blocks in place (no per-round copy), so a task holds nothing beyond
    * the cache it already has — except under `normalize`, where each task
    * standardizes its partition once per round into a dense copy of
    * rows/partition × p × 8 B. Size partitions so that copy fits the
    * executor heap per task; e.g. p = 100 and 4 GiB/task allows
    * ~5×10⁶ rows per partition — the same rows-fit-in-a-chunk assumption
    * the reference's dask chunks make.
    */
  /** Opt-in ADMM run diagnostics (VERDICT r14 #7): consensus iterations
    * actually run and total local L-BFGS objective evaluations across
    * all chunks and iterations (counted with a Spark accumulator —
    * at-least-once under task retries, exact on a healthy run). Zero
    * cost unless passed. */
  final class AdmmDiag {
    var iterations: Int = 0
    var localEvals: Long = 0L
  }

  def admm(
      data: GlmData,
      regularizer: Regularizer = Regularizer.get("l1"),
      lamduh: Double = 0.1,
      rho: Double = 1.0,
      overRelax: Double = 1.0,
      maxIter: Int = 250,
      abstol: Double = 1e-4,
      reltol: Double = 1e-2,
      family: Family = Logistic,
      normalize: Boolean = true,
      warmStart: Boolean = false,
      diag: AdmmDiag = null): DenseVector[Double] =
    Normalize(data, normalize) { d =>
      val p = d.numFeatures
      val nchunks = math.max(d.numPartitions, 1)
      var z = DenseVector.zeros[Double](p)
      val u = Array.fill(nchunks)(DenseVector.zeros[Double](p))
      // NOTE: the reference never reassigns `betas` inside its loop
      // (algorithms.py:302-312) — every x-update restarts from the
      // initial all-ones vector. Reproduced as the default for parity;
      // `warmStart = true` reuses each chunk's previous solution, which
      // cuts the local L-BFGS work sharply once the consensus stabilizes.
      var betas = Array.fill(nchunks)(DenseVector.ones[Double](p))

      var k = 0
      var done = false
      val evalAcc =
        if (diag == null) null
        else d.blocks.sparkContext.longAccumulator("admmLocalEvals")
      while (k < maxIter && !done) {
        val newBetas = localSolves(d, betas, z, u, rho, family, evalAcc)
        if (warmStart) betas = newBetas

        val betaHat = newBetas.map(b => b * overRelax + z * (1.0 - overRelax))

        val zold = z.copy
        val ztilde = {
          val acc = DenseVector.zeros[Double](p)
          var i = 0
          while (i < nchunks) { acc += betaHat(i) + u(i); i += 1 }
          acc / nchunks.toDouble
        }
        z = regularizer.proximalOperator(ztilde, lamduh / (rho * nchunks))

        var i = 0
        while (i < nchunks) { u(i) += betaHat(i) - z; i += 1 }

        val primalRes = math.sqrt(newBetas.map(b => sq(b - z)).sum)
        val dualRes = math.sqrt(sq((z - zold) * rho))
        val epsPri = math.sqrt(p.toDouble * nchunks) * abstol +
          reltol * math.max(
            math.sqrt(newBetas.map(sq).sum),
            math.sqrt(nchunks.toDouble) * math.sqrt(sq(z)))
        val epsDual = math.sqrt(p.toDouble * nchunks) * abstol +
          reltol * math.sqrt(u.map(ui => sq(ui * rho)).sum)

        if (primalRes < epsPri && dualRes < epsDual) done = true
        k += 1
      }
      if (diag != null) {
        diag.iterations = k
        diag.localEvals = evalAcc.value
      }
      z
    }

  @inline private def sq(v: DenseVector[Double]): Double = v dot v

  /** ADMM x-update: one job, one local L-BFGS per partition with warm-start
    * β_i and broadcast (z, u_i, ρ). Objective = local pointwise loss +
    * (ρ/2)‖β − z + u_i‖² (algorithms.py:246-270,339-348). */
  private[graft] def localSolves(
      d: GlmData,
      betas: Array[DenseVector[Double]],
      z: DenseVector[Double],
      u: Array[DenseVector[Double]],
      rho: Double,
      family: Family,
      evalAcc: org.apache.spark.util.LongAccumulator = null):
      Array[DenseVector[Double]] = {
    val p = d.numFeatures
    // per-chunk state rides a per-iteration TORRENT BROADCAST, not the
    // task closure: each task reads only its own index, but a closure
    // capture would serialize ALL of (betas, u) — O(nchunks·p) — into
    // every task binary of every iteration (at 10⁴ chunks × p=10³
    // that's 160 MB per stage, the exact scheduler-latency failure the
    // GlmData.persist doc warns about). The broadcast ships once per
    // executor and is released right after the collect.
    val bcState = d.blocks.sparkContext.broadcast(
      (betas.map(_.toArray), u.map(_.toArray)))
    val zArr = z.toArray
    val fam = family
    val (mean, std) = (d.mean, d.std)
    try d.blocks
      .mapPartitionsWithIndex { (idx, it) =>
        // L-BFGS evaluates the objective O(10²) times per x-update: read
        // the partition's blocks in place, or standardize them ONCE per
        // task into dense copies under a standardized view
        val local = it.map(b => if (mean == null) b else b.standardized(p, mean, std)).toArray
        val zL = DenseVector(zArr)
        val uL = DenseVector(bcState.value._2(idx))
        val init = DenseVector(bcState.value._1(idx).clone())
        val diff = new DiffFunction[DenseVector[Double]] {
          def calculate(beta: DenseVector[Double]): (Double, DenseVector[Double]) = {
            if (evalAcc != null) evalAcc.add(1L)
            val b = beta.toArray
            var loss = 0.0
            val g = new Array[Double](p)
            val c = new RowCursor(local.iterator, p, null, null)
            while (c.next()) {
              val xb = c.dot(b)
              loss += fam.loss(xb, c.y)
              c.axpy(fam.dLoss(xb, c.y), g)
            }
            val diffV = beta - zL + uL
            val l = loss + (rho / 2.0) * (diffV dot diffV)
            (l, DenseVector(g) + diffV * rho)
          }
        }
        // maxIter=200, maxFun=250: the reference's exact local-solver
        // cost ceiling (fmin_l_bfgs_b(maxiter=200, maxfun=250),
        // algorithms.py:345) — iterations AND evaluations both capped.
        Iterator.single((idx,
          safeLbfgs(diff, init, maxIter = 200, maxFun = 250).toArray))
      }
      .collect()
      .sortBy(_._1)
      .map { case (_, b) => DenseVector(b) }
    finally bcState.unpersist(blocking = false)
  }

  /** Name → solver registry (algorithms.py:508-514), estimator-kwarg style. */
  def solve(
      name: String,
      data: GlmData,
      family: Family,
      maxIter: Int,
      tol: Double,
      regularizer: Regularizer,
      lamduh: Double,
      rho: Double,
      overRelax: Double,
      abstol: Double,
      reltol: Double,
      normalize: Boolean,
      admmWarmStart: Boolean = false): DenseVector[Double] = name match {
    case "gradient_descent" =>
      gradientDescent(data, maxIter, tol, family, normalize)
    case "newton" => newton(data, maxIter, tol, family, normalize)
    case "lbfgs" =>
      lbfgs(data, regularizer, lamduh, maxIter, tol, family, normalize)
    case "proximal_grad" =>
      proximalGrad(data, regularizer, lamduh, family, maxIter, tol, normalize)
    case "admm" =>
      admm(data, regularizer, lamduh, rho, overRelax, maxIter, abstol, reltol,
        family, normalize, admmWarmStart)
    case other => throw new IllegalArgumentException(s"Unknown solver: $other")
  }
}

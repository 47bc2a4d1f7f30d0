package perfbench

import scala.collection.parallel.CollectionConverters._

import graft.core.GlmData
import graft.estimators.{GlmParams, LogisticRegression}
import graft.regularizers.Regularizer
import graft.solvers.Solvers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks shared by the GLM workloads: objective against the
  * reference optimum, the moment condition for unpenalized fits, and
  * bit-identical coefficients across repeats of one configuration. */
final class GlmChecks(objTol: Map[String, Double], momentTolPerRow: Double) {
  private val first = scala.collection.mutable.Map.empty[String, Array[Double]]
  private val refObj = scala.collection.mutable.Map.empty[(String, Double), Double]

  /** Reference optima for every (regularizer, λ), solved concurrently. */
  def references(prob: LogitProblem, configs: Seq[(String, Double)]): Unit =
    configs.distinct.par.map { case (reg, lamduh) =>
      (reg, lamduh) -> prob.objective(reg, lamduh, prob.solve(reg, lamduh))
    }.seq.foreach(refObj += _)

  /** None when the fit passes every check, else the reason. */
  def check(prob: LogitProblem, key: String, solver: String, reg: String,
      lamduh: Double, beta: Array[Double]): Option[String] = {
    val ref = refObj((reg, lamduh))
    val obj = prob.objective(reg, lamduh, beta)
    val gap = (obj - ref) / math.abs(ref)
    val tol = objTol(solver)
    if (beta.exists(b => b.isNaN || b.isInfinite)) return Some(s"$key: non-finite coefficients")
    if (!(gap <= tol)) return Some(f"$key: objective $obj%.6f is $gap%.2e above the reference $ref%.6f (tolerance $tol%.0e)")
    if (reg == "none") {
      val m = prob.momentGap(beta)
      if (m > momentTolPerRow * prob.n) return Some(f"$key: moment gap |Σσ(Xβ)−Σy| = $m%.4f exceeds ${momentTolPerRow * prob.n}%.4f")
    }
    first.get(key) match {
      case Some(b0) if !java.util.Arrays.equals(b0, beta) =>
        Some(s"$key: coefficients differ from the first fit of the same configuration")
      case Some(_) => None
      case None =>
        System.err.println(f"[perfbench] $key: objective gap $gap%.2e (tolerance $tol%.0e)")
        first(key) = beta.clone()
        None
    }
  }
}

object GlmWorkloads {
  /** Relative objective gap each solver must reach on the algorithms API:
    * reference defaults, except ADMM's fixed 30 iterations. */
  val PathTol: Map[String, Double] = Map(
    "admm" -> 2e-2, "lbfgs" -> 1e-5, "newton" -> 1e-8,
    "gradient_descent" -> 1e-5, "proximal_grad" -> 5e-3)
  /** The estimator API's defaults (tol 1e-4, 100 iterations; ADMM 30 and
    * proximal_grad 60 fixed iterations) stop the first-order solvers well
    * short of the optimum; these bounds catch a wrong answer, not slow
    * convergence. */
  val EstimatorTol: Map[String, Double] = Map(
    "admm" -> 5e-3, "lbfgs" -> 1e-4, "newton" -> 1e-8,
    "gradient_descent" -> 1e-2, "proximal_grad" -> 5e-2)
}

/** The reference's basic_api notebook, repeated: parquet scan → filter →
  * randomSplit → LogisticRegression.fit → score on the held-out half. */
final class GlmEstimatorWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val n = if (ctx.tiny) 20000L else 120000L
  private val beta = Array(0.8, -1.2, 0.5, 0.0, 1.5)
  private val b0 = -0.3
  private val means = Array(0.0, 5.0, -2.0, 10.0, 0.0)
  private val scales = Array(1.0, 3.0, 0.5, 2.0, 1.0)
  private val p = beta.length
  private val files = 8
  private val inputDir = ctx.dir("glm_estimator_input")
  private val input = inputDir.getPath
  def inputRows: Long = n
  def inputDirs: Seq[java.io.File] = Seq(inputDir)
  val cycle: IndexedSeq[String] =
    IndexedSeq("lbfgs", "admm", "newton", "gradient_descent", "proximal_grad")
  private val AdmmIterations = 30
  private val ProxIterations = 60
  private val checks = new GlmChecks(GlmWorkloads.EstimatorTol, 5e-3)
  private var train: LogitProblem = _
  private var accFloor = 0.0
  private var testRows = 0L

  def setup(): Unit = {
    val (seed, bt, bb, m, s) = (ctx.seed, beta, b0, means, scales)
    val schema = StructType(
      (0 until p).map(j => StructField(s"x$j", DoubleType)) ++
        Seq(StructField("label", DoubleType), StructField("valid", DoubleType)))
    val rows = spark.sparkContext.range(0L, n, 1L, files).map { i =>
      val (x, y) = Gen.glmRow(seed, i, bt, bb, m, s)
      Row.fromSeq(x.toSeq ++ Seq(y, Gen.uniform(seed, i, 99)))
    }
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(input)
  }

  def release(): Unit = ()

  private def splits: Array[DataFrame] =
    spark.read.parquet(input)
      .filter(col("valid") < 0.95)
      .select(array((0 until p).map(j => col(s"x$j")): _*).as("features"), col("label"))
      .randomSplit(Array(0.5, 0.5), seed = 2L)

  def prepareChecks(): Unit = {
    def collect(df: DataFrame): (Array[Array[Double]], Array[Double]) = {
      val rs = df.collect()
      (rs.map(r => r.getSeq[Double](0).toArray :+ 1.0), rs.map(_.getDouble(1)))
    }
    val Array(tr, te) = splits
    val (xtr, ytr) = collect(tr)
    train = new LogitProblem(xtr, ytr, interceptIdx = p)
    checks.references(train, Seq(("l2", 1.0), ("none", 0.0)))
    val (xte, yte) = collect(te)
    testRows = xte.length
    val planted = xte.indices.count { i =>
      var t = b0
      var j = 0
      while (j < p) { t += xte(i)(j) * beta(j); j += 1 }
      (t > 0) == (yte(i) > 0.5)
    }
    // the held-out accuracy of the planted coefficients, less 0.01
    accFloor = planted.toDouble / testRows - 0.01
  }

  def run(solver: String): OpResult = {
    val Array(tr, te) = ctx.call("spark", "scan_filter_split")(splits)
    // ADMM and proximal_grad run a fixed number of iterations (zero
    // tolerances): their stopping points otherwise swing with the seed
    // (ADMM 30 → 100 iterations, proximal_grad fits 1.6 → 3.5 s), which
    // would swamp any change being measured
    val params = solver match {
      case "admm" => GlmParams(solver = solver, nPartitions = ctx.cores,
        maxIter = AdmmIterations, abstol = 0.0, reltol = 0.0)
      case "proximal_grad" => GlmParams(solver = solver, nPartitions = ctx.cores,
        maxIter = ProxIterations, tol = 0.0)
      case _ => GlmParams(solver = solver, nPartitions = ctx.cores)
    }
    val model = new LogisticRegression(params)
    val ((_, fitS), fitSpark) =
      ctx.measured("estimators", s"fit.$solver")(Stats.time(model.fit(tr)))
    val (acc, scoreS) = Stats.time(ctx.call("estimators", "score")(model.score(te)))
    val coef = model.rawCoef.toArray
    val reg = if (solver == "newton" || solver == "gradient_descent") "none" else "l2"
    OpResult(solver, fitS, scoreS, testRows, n, () =>
      if (acc < accFloor) Some(f"$solver: held-out accuracy $acc%.4f below the floor $accFloor%.4f")
      else checks.check(train, solver, solver, reg, if (reg == "l2") 1.0 else 0.0, coef),
      fitSpark)
  }

  def layerPasses(): Unit = {
    // core: the ingest an estimator fit performs, called piece by piece
    val Array(tr, te) = splits
    val ((data, ingestS), sp) = ctx.measured("core", "ingest") {
      Stats.time {
        val d = GlmData.fromDF(tr).repartition(ctx.cores).addIntercept.persist()
        d.rows.count()
        d
      }
    }
    ctx.record("core.ingest_ms", ingestS * 1000)
    sp.foreach { s =>
      ctx.record("core.ingest_jobs", s.jobs.toDouble)
      ctx.record("core.scan_bytes", s.scanBytes.toDouble)
      ctx.record("core.repartition_shuffle_bytes", s.shuffleWriteBytes.toDouble)
    }
    ctx.record("core.cached_mb", Layers.rddMb(ctx, data.rows.id))
    // solvers: ADMM's own counters through its public diagnostics argument
    val diag = new Solvers.AdmmDiag
    ctx.call("solvers", "admm.diag")(Solvers.admm(data, Regularizer.get("l2"), 1.0,
      maxIter = AdmmIterations, abstol = 0.0, reltol = 0.0, diag = diag))
    ctx.record("solvers.admm_iterations", diag.iterations.toDouble)
    ctx.record("solvers.admm_local_evals", diag.localEvals.toDouble)
    Layers.linalgPasses(ctx, data, dense = true)
    data.unpersist()
    // functions: the scoring expression over the cached held-out features
    val coef = typedLit(Seq.tabulate(p)(j => beta(j)))
    Layers.functionPass(ctx, te.select(col("features")), "array_dot",
      graft.functions.ArrayMath.dot(col("features"), coef))
  }
}

/** The reference's algorithms API on a matrix persisted once in set-up:
  * each operation is one Solvers call; the penalized solvers sweep a
  * fixed λ grid, newton and gradient_descent run unpenalized. */
final class GlmPathWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val n = if (ctx.tiny) 4000L else 20000L
  private val AdmmIterations = 30
  def inputRows: Long = n
  // generated straight into the persisted matrix: nothing on disk
  def inputDirs: Seq[java.io.File] = Nil
  private val pf = if (ctx.tiny) 20 else 100
  private val p = pf + 1 // last column is the intercept
  private val beta: Array[Double] = Array.tabulate(pf) { j =>
    if (j % 10 == 0) (if (j % 20 == 0) 1.0 else -0.7) else 0.0
  }
  private val grid: Seq[Double] = Seq(0.001, 0.002).map(_ * n)
  // ADMM, by far the costliest call, runs at the grid's first λ only
  private val configs: Seq[(String, String, Double)] =
    grid.flatMap(l => Seq(("lbfgs", "l2", l), ("proximal_grad", "l1", l))) ++
      Seq(("admm", "l1", grid.head), ("newton", "none", 0.0), ("gradient_descent", "none", 0.0))
  val cycle: IndexedSeq[String] = configs.map { case (s, r, l) => key(s, r, l) }.toIndexedSeq
  private def key(s: String, r: String, l: Double) = if (r == "none") s else f"$s.$r.$l%.0f"
  private val byKey = configs.map(c => key(c._1, c._2, c._3) -> c).toMap
  private val checks = new GlmChecks(GlmWorkloads.PathTol, 1e-6)
  private var data: GlmData = _
  private var prob: LogitProblem = _

  def setup(): Unit = {
    val (seed, bt) = (ctx.seed, beta)
    val rows = spark.sparkContext.range(0L, n, 1L, ctx.cores).map { i =>
      val (x, y) = GlmPathWorkload.row(seed, bt, i)
      Row(x, y)
    }
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("features", ArrayType(DoubleType, containsNull = false)),
      StructField("label", DoubleType))))
    data = ctx.call("core", "fromDF")(GlmData.fromDF(df, numFeatures = p))
    ctx.call("core", "persist")(data.persist())
    data.rows.count()
  }

  def release(): Unit = data.unpersist()

  def prepareChecks(): Unit = {
    val rs = (0L until n).map(GlmPathWorkload.row(ctx.seed, beta, _))
    prob = new LogitProblem(rs.map(_._1).toArray, rs.map(_._2).toArray, interceptIdx = p - 1)
    checks.references(prob, configs.map(c => (c._2, c._3)))
  }

  def run(op: String): OpResult = {
    val (solver, reg, lamduh) = byKey(op)
    val ((b, fitS), fitSpark) = ctx.measured("solvers", op)(Stats.time(solver match {
      case "admm" =>
        val diag = if (ctx.traced) new Solvers.AdmmDiag else null
        // a fixed iteration count: zero residual tolerances
        val r = Solvers.admm(data, Regularizer.get(reg), lamduh, maxIter = AdmmIterations,
          abstol = 0.0, reltol = 0.0, diag = diag)
        if (diag != null) {
          ctx.record("solvers.admm_iterations", diag.iterations.toDouble)
          ctx.record("solvers.admm_local_evals", diag.localEvals.toDouble)
        }
        r
      case "proximal_grad" => Solvers.proximalGrad(data, Regularizer.get(reg), lamduh)
      case "lbfgs" => Solvers.lbfgs(data, Regularizer.get(reg), lamduh)
      case "newton" => Solvers.newton(data)
      case "gradient_descent" => Solvers.gradientDescent(data)
    }))
    val coef = b.toArray
    OpResult(solver, fitS, 0.0, 0L, n,
      () => checks.check(prob, op, solver, reg, lamduh, coef), fitSpark)
  }

  def layerPasses(): Unit = {
    ctx.record("core.cached_mb", Layers.rddMb(ctx, data.rows.id))
    Layers.linalgPasses(ctx, data, dense = true)
  }
}

object GlmPathWorkload {
  /** Row `i`: standard-normal features, the intercept column last. */
  def row(seed: Long, beta: Array[Double], i: Long): (Array[Double], Double) = {
    val pf = beta.length
    val (x, y) = Gen.glmRow(seed, i, beta, -0.2, new Array[Double](pf), Array.fill(pf)(1.0))
    (x :+ 1.0, y)
  }
}

package graft.estimators

import breeze.linalg.DenseVector
import graft.core.GlmData
import graft.families.{Family, Logistic => LogisticFam, Normal => NormalFam, Poisson => PoissonFam}
import graft.regularizers.Regularizer
import graft.solvers.Solvers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** sklearn-shaped hyperparameters with the reference's names and defaults
  * (estimators.py:39-77). Per-solver kwarg routing happens inside the
  * solver registry — newton/gd ignore regularizer, admm ignores tol. */
final case class GlmParams(
    fitIntercept: Boolean = true,
    solver: String = "admm",
    regularizer: String = "l2",
    maxIter: Int = 100,
    tol: Double = 1e-4,
    lamduh: Double = 1.0,
    rho: Double = 1.0,
    overRelax: Double = 1.0,
    abstol: Double = 1e-4,
    reltol: Double = 1e-2,
    normalize: Boolean = true,
    /** ElasticNet mixing weight (regularizers.py ElasticNet(weight=0.5));
      * routed only when regularizer == "elastic_net" */
    elasticNetWeight: Double = 0.5,
    featuresCol: String = "features",
    labelCol: String = "label",
    /** repartition the assembled rows before solving; controls ADMM's
      * chunk count and kernel parallelism (≙ dask chunksize; -1 keeps the
      * scan's natural partitioning, which for a single dense parquet file
      * can be 1 — far below the executor-thread count) */
    nPartitions: Int = -1,
    /** warm-start ADMM local solves from the previous iterate (the
      * reference restarts from ones every iteration — a quirk; warm
      * start is the fast path, default off for parity) */
    admmWarmStart: Boolean = false,
    /** cache the training blocks SERIALIZED (MEMORY_AND_DISK_SER). The
      * blocks are primitive arrays, so this no longer shrinks the cache
      * (measured equal, README "Compatibility notes"); it only adds a
      * per-pass deserialization. Bit-identical fits either way. */
    serializedCache: Boolean = false)

/** Base GLM estimator (estimators.py:19-98): DataFrame in, fitted
  * coefficients out. The intercept is the LAST coefficient when
  * `fitIntercept` (estimators.py:87-89). Lazy `transform` semantics mirror
  * the reference's lazy predict graphs (§3.2 of SURVEY.md). */
abstract class GLM(val params: GlmParams) extends Serializable {
  def family: Family

  /** Full coefficient vector, intercept last (reference `_coef`). */
  var rawCoef: DenseVector[Double] = _

  def coef: DenseVector[Double] =
    if (params.fitIntercept) rawCoef(0 until rawCoef.length - 1).copy else rawCoef
  def intercept: Double = if (params.fitIntercept) rawCoef(rawCoef.length - 1) else 0.0

  def fit(df: DataFrame): this.type = {
    val base0 = GlmData.fromDF(df, params.featuresCol, params.labelCol)
    val base = if (params.nPartitions > 0) base0.repartition(params.nPartitions) else base0
    val data = (if (params.fitIntercept) base.addIntercept else base).persist(
      if (params.serializedCache)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sparse input disables normalization (estimators.py:82-84 — centering
    // would densify)
    val normalize = params.normalize && !base.isSparse
    try {
      rawCoef = Solvers.solve(
        params.solver, data, family,
        maxIter = params.maxIter, tol = params.tol,
        regularizer = params.regularizer match {
          case "elastic_net" =>
            new graft.regularizers.ElasticNet(params.elasticNetWeight)
          case other => Regularizer.get(other)
        },
        lamduh = params.lamduh, rho = params.rho,
        overRelax = params.overRelax, abstol = params.abstol,
        reltol = params.reltol, normalize = normalize,
        admmWarmStart = params.admmWarmStart)
    } finally data.unpersist()
    this
  }

  /** Features column as array<double>, whatever the storage type
    * (array<double> or MLlib VectorUDT). */
  protected def featureExpr(df: DataFrame): Column =
    if (df.schema(params.featuresCol).dataType.typeName == "vector")
      org.apache.spark.ml.functions.vector_to_array(col(params.featuresCol))
    else col(params.featuresCol)

  /** Linear margin X_·coef as a pure-Catalyst column: native fused
    * ArrayDot against the literal coefficient array (same left fold as
    * the zip_with+aggregate composition, bit-identical, but stays inside
    * whole-stage codegen — this is the production scoring path). */
  def marginCol(features: Column): Column = {
    val c = coef.toArray.toSeq
    val dotProd = graft.functions.ArrayMath.dot(
      features.cast("array<double>"), typedLit(c))
    if (params.fitIntercept) dotProd + lit(intercept) else dotProd
  }

  def transform(df: DataFrame): DataFrame
}

object GLM {
  private[estimators] def sigmoidCol(c: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-c))
}

/** Logistic regression (estimators.py:101-153). */
class LogisticRegression(params: GlmParams = GlmParams()) extends GLM(params) {
  def family: Family = LogisticFam

  def predictProbaCol(features: Column): Column = GLM.sigmoidCol(marginCol(features))
  /** Boolean threshold at 0.5 (estimators.py:145-146). */
  def predictCol(features: Column): Column = predictProbaCol(features) > 0.5

  def transform(df: DataFrame): DataFrame = df
    .withColumn("probability", predictProbaCol(featureExpr(df)))
    .withColumn("prediction", col("probability") > 0.5)

  /** Accuracy (utils.py:176-177). */
  def score(df: DataFrame): Double =
    Metrics.accuracyScore(transform(df), col(params.labelCol), col("prediction"))
}

/** OLS linear regression; `score` is MSE, NOT R² (estimators.py:203-204). */
class LinearRegression(params: GlmParams = GlmParams()) extends GLM(params) {
  def family: Family = NormalFam

  def predictCol(features: Column): Column = marginCol(features)

  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", predictCol(featureExpr(df)))

  def score(df: DataFrame): Double =
    Metrics.meanSquaredError(transform(df), col(params.labelCol), col("prediction"))
}

/** Poisson regression; deviance uses the reference's `log1p` form
  * (utils.py:180-181 — not the textbook log). */
class PoissonRegression(params: GlmParams = GlmParams()) extends GLM(params) {
  def family: Family = PoissonFam

  def predictCol(features: Column): Column = exp(marginCol(features))

  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", predictCol(featureExpr(df)))

  def getDeviance(df: DataFrame): Double =
    Metrics.poissonDeviance(transform(df), col(params.labelCol), col("prediction"))
}

package graft

import breeze.linalg.DenseVector
import graft.core.GlmData
import graft.estimators.Metrics
import graft.families.{Logistic, Normal}
import graft.linalg.Kernels
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fail-loud and determinism contracts of the data layer: the sparse
  * ragged-row guards (the dense arms had them since round 5; the sparse
  * arms silently zero-padded / partially dotted), fromDF null hygiene,
  * deterministic repartition, Metrics NaN semantics, and the packed-
  * triangle Hessian. */
class GlmDataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def causeChainHas(t: Throwable, msg: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .exists(e => Option(e.getMessage).exists(_.contains(msg)))

  private def sparseRaggedData(rowDim: Int): GlmData = {
    // first row sane (numFeatures = 3), second row ragged
    val rows = spark.sparkContext.parallelize(Seq(
      (Vectors.sparse(3, Array(0, 2), Array(1.0, 2.0)), 1.0),
      (Vectors.sparse(rowDim, Array(0), Array(1.0)), 0.0)), 1)
    new GlmData(rows, 3, isSparse = true)
  }

  test("sparse ragged rows fail loudly in dot/axpy (short AND long)") {
    for (dim <- Seq(2, 5)) {
      val e = intercept[Exception] {
        Kernels.lossGrad(sparseRaggedData(dim), DenseVector(0.1, 0.2, 0.3), Logistic)
      }
      assert(causeChainHas(e, "ragged row"), s"dim=$dim: $e")
    }
  }

  test("addIntercept rejects ragged sparse rows instead of zero-padding") {
    // a short sparse row passes SparseVector's own validation after the
    // append, so without the guard it would silently enter the fit as
    // dim p+1 with missing features = 0.0
    val e = intercept[Exception] { sparseRaggedData(2).addIntercept.rows.count() }
    assert(causeChainHas(e, "ragged row"), e.toString)
  }

  test("ADMM flat-pack rejects a ragged sparse row in a dense-first dataset") {
    // dense first row ⇒ isSparse=false ⇒ the flat-pack path; the oversized
    // sparse row would otherwise scatter actives into the NEXT row's region
    val rows = spark.sparkContext.parallelize(Seq(
      (Vectors.dense(1.0, 2.0), 1.0),
      (Vectors.sparse(4, Array(3), Array(1.0)), 0.0)), 1)
    val data = new GlmData(rows, 2, isSparse = false)
    val e = intercept[Exception] {
      graft.solvers.Solvers.admm(data,
        regularizer = graft.regularizers.Regularizer.get("l2"),
        lamduh = 0.1, maxIter = 2)
    }
    assert(causeChainHas(e, "ragged row"), e.toString)
  }

  test("the block builder rejects ragged dense and sparse rows, naming the dimension") {
    def raggedError(rows: Seq[(org.apache.spark.ml.linalg.Vector, Double)]): Throwable = {
      val data = new GlmData(spark.sparkContext.parallelize(rows, 1), 3, isSparse = false)
      val e = intercept[Exception](data.rows.count())
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException]).getOrElse(e)
    }
    val dense = raggedError(Seq(
      (Vectors.dense(1.0, 2.0, 3.0), 1.0), (Vectors.dense(1.0, 2.0), 0.0)))
    assert(dense.isInstanceOf[IllegalArgumentException], dense.toString)
    assert(dense.getMessage.contains("ragged row: vector of dim 2, expected 3"), dense.getMessage)
    val sparse = raggedError(Seq(
      (Vectors.sparse(3, Array(0), Array(1.0)), 1.0),
      (Vectors.dense(1.0, 2.0, 3.0), 0.0),
      (Vectors.sparse(5, Array(4), Array(1.0)), 0.0)))
    assert(sparse.isInstanceOf[IllegalArgumentException], sparse.toString)
    assert(sparse.getMessage.contains("ragged row: sparse vector of dim 5, expected 3"),
      sparse.getMessage)
  }

  test("fromDF fails fast on NULL rows and NULL array elements") {
    val arrDf = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(1.0)),
      (None, Some(0.0))).toDF("features", "label")
    val e1 = intercept[Exception] { GlmData.fromDF(arrDf).rows.count() }
    assert(causeChainHas(e1, "drop or impute NULLs"), e1.toString)

    val elemDf = Seq(
      (Seq(Some(1.0), Some(2.0)), 1.0),
      (Seq(Some(1.0), None), 0.0)).toDF("features", "label")
    val e2 = intercept[Exception] { GlmData.fromDF(elemDf).rows.count() }
    assert(causeChainHas(e2, "null element"), e2.toString)

    val nullLabel = Seq(
      (Seq(1.0, 2.0), Some(1.0)),
      (Seq(3.0, 4.0), None)).toDF("features", "label")
    val e3 = intercept[Exception] { GlmData.fromDF(nullLabel).rows.count() }
    assert(causeChainHas(e3, "drop or impute NULLs"), e3.toString)
  }

  test("repartition is deterministic: same assignment and row order every run") {
    val df = graft.datasets.Datasets.makeClassification(spark,
      nSamples = 400, nFeatures = 3, chunksize = 50, seed = 99)
    val base = GlmData.fromDF(df, numFeatures = 3)
    def layout(d: GlmData): Seq[Seq[Double]] =
      d.rows.mapPartitionsWithIndex { (i, it) =>
        Iterator.single(it.map { case (x, y) => x.toArray.sum + y }.toSeq)
      }.collect().toSeq
    val a = layout(base.repartition(7))
    val b = layout(base.repartition(7))
    assert(a == b, "repartition layout must be identical run-to-run")
    assert(a.map(_.size).sum == 400 && a.size == 7)
    // balanced round-robin: partition sizes differ by at most 1
    assert(a.map(_.size).max - a.map(_.size).min <= 1, a.map(_.size).toString)
    // and the kernels see bit-identical accumulation order
    val g1 = Kernels.lossGrad(base.repartition(7), DenseVector(0.1, 0.2, 0.3), Normal)
    val g2 = Kernels.lossGrad(base.repartition(7), DenseVector(0.1, 0.2, 0.3), Normal)
    assert(g1._1 == g2._1 && g1._2 == g2._2)
  }

  test("Metrics: empty input gives numpy semantics; NULL rows poison to NaN") {
    val empty = Seq.empty[(Double, Double)].toDF("y", "p")
    assert(Metrics.accuracyScore(empty, col("y"), col("p")).isNaN)
    assert(Metrics.meanSquaredError(empty, col("y"), col("p")).isNaN)
    assert(Metrics.poissonDeviance(empty, col("y"), col("p")) == 0.0)
    // SQL avg/sum would silently SKIP null rows → metric over a subset;
    // the reference's numpy arrays would carry nan instead
    val withNull = Seq((1.0, Some(1.0)), (0.0, None)).toDF("y", "p")
    assert(Metrics.accuracyScore(withNull, col("y"), col("p")).isNaN)
    assert(Metrics.meanSquaredError(withNull, col("y"), col("p")).isNaN)
    assert(Metrics.poissonDeviance(withNull, col("y"), col("p")).isNaN)
  }

  test("packed-triangle gradHess equals the brute-force Hessian (dense + sparse mix)") {
    val vecs = Seq(
      Vectors.dense(1.0, -2.0, 0.5),
      Vectors.sparse(3, Array(1), Array(3.0)),
      Vectors.dense(0.0, 1.0, 2.0),
      Vectors.sparse(3, Array(0, 2), Array(-1.0, 4.0)))
    val ys = Seq(1.0, 0.0, 1.0, 0.0)
    val rows = spark.sparkContext.parallelize(vecs.zip(ys), 2)
    val data = new GlmData(rows, 3, isSparse = false)
    val beta = DenseVector(0.3, -0.1, 0.2)
    val (g, h) = Kernels.gradHess(data, beta, Logistic)
    // brute force on the driver
    val expG = new Array[Double](3)
    val expH = Array.ofDim[Double](3, 3)
    vecs.zip(ys).foreach { case (v, y) =>
      val x = v.toArray
      val xb = x.zip(beta.toArray).map { case (a, b) => a * b }.sum
      val w1 = Logistic.dLoss(xb, y)
      val w2 = Logistic.d2Loss(xb, y)
      for (i <- 0 until 3) {
        expG(i) += w1 * x(i)
        for (j <- 0 until 3) expH(i)(j) += w2 * x(i) * x(j)
      }
    }
    for (i <- 0 until 3) {
      assert(math.abs(g(i) - expG(i)) < 1e-12, s"g($i)")
      for (j <- 0 until 3)
        assert(math.abs(h(i, j) - expH(i)(j)) < 1e-12, s"h($i,$j)")
    }
  }
}

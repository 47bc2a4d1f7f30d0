package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.GlmData
import graft.families.{Logistic, Normal, Poisson}
import graft.linalg.Kernels
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property tests pinning the distributed kernels to driver-side Breeze
  * linear algebra on generated data: lossGrad equals the per-row sum,
  * gradHess's Hessian is the symmetric PSD XᵀWX, colStats matches
  * population moments, the fused ladder equals pointwise losses and
  * gradients, and the multi-candidate pass is bit-identical to lossGrad.
  * Complements KernelsTreeSpec (combine-order determinism) — here the
  * VALUES are checked against an independent computation. */
object KernelsPropsSpec extends Properties("Kernels") {

  // several Spark jobs per sample → moderate case count
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  private case class Fx(rows: Seq[(Array[Double], Double)], beta: Array[Double])

  private def fxGen(labelGen: Gen[Double],
      xGen: Gen[Double] = Gen.choose(-2.0, 2.0)): Gen[Fx] = for {
    n <- Gen.choose(3, 10)
    p <- Gen.choose(1, 3)
    xs <- Gen.listOfN(n * p, xGen)
    ys <- Gen.listOfN(n, labelGen)
    beta <- Gen.listOfN(p, Gen.choose(-1.0, 1.0))
  } yield Fx(
    (0 until n).map(i => ((0 until p).map(j => xs(i * p + j)).toArray, ys(i))),
    beta.toArray)

  private def toData(fx: Fx): GlmData = {
    import spark.implicits._
    val df = fx.rows.map { case (f, y) => (f.toSeq, y) }.toDF("features", "label")
    GlmData.fromDF(df, numFeatures = fx.beta.length)
  }

  /** The same rows as SparseVectors (zeros dropped), over 3 partitions. */
  private def toSparseData(fx: Fx): GlmData = {
    val rows = fx.rows.map { case (f, y) =>
      (org.apache.spark.ml.linalg.Vectors.dense(f).toSparse: org.apache.spark.ml.linalg.Vector, y)
    }
    new GlmData(spark.sparkContext.parallelize(rows, 3), fx.beta.length, isSparse = true)
  }

  /** Half the entries exactly zero, so sparse rows skip actives. */
  private val sparseX = Gen.frequency((1, Gen.const(0.0)), (1, Gen.choose(-2.0, 2.0)))

  private val fams = Seq(
    ("logistic", Logistic, Gen.oneOf(0.0, 1.0)),
    ("normal", Normal, Gen.choose(-3.0, 3.0)),
    ("poisson", Poisson, Gen.choose(0, 5).map(_.toDouble)))

  property("lossGrad equals the driver-side per-row sum") =
    Prop.all(fams.map { case (nm, fam, yGen) =>
      forAll(fxGen(yGen)) { fx =>
        val (l, g) = Kernels.lossGrad(toData(fx), DenseVector(fx.beta), fam)
        var lExp = 0.0
        val gExp = new Array[Double](fx.beta.length)
        fx.rows.foreach { case (x, y) =>
          val xb = x.zip(fx.beta).map { case (a, b) => a * b }.sum
          lExp += fam.loss(xb, y)
          val w = fam.dLoss(xb, y)
          var j = 0
          while (j < x.length) { gExp(j) += w * x(j); j += 1 }
        }
        Prop(math.abs(l - lExp) <= 1e-9 * math.max(1.0, math.abs(lExp)) &&
          g.toArray.zip(gExp).forall { case (a, b) =>
            math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)) }) :| nm
      }
    }: _*)

  property("gradHess Hessian is the symmetric PSD XᵀWX") =
    Prop.all(fams.map { case (nm, fam, yGen) =>
      forAll(fxGen(yGen)) { fx =>
        val (_, h) = Kernels.gradHess(toData(fx), DenseVector(fx.beta), fam)
        val p = fx.beta.length
        val hExp = DenseMatrix.zeros[Double](p, p)
        fx.rows.foreach { case (x, y) =>
          val xb = x.zip(fx.beta).map { case (a, b) => a * b }.sum
          val w = fam.d2Loss(xb, y)
          for (i <- 0 until p; j <- 0 until p) hExp(i, j) += w * x(i) * x(j)
        }
        val close = (0 until p).forall(i => (0 until p).forall(j =>
          math.abs(h(i, j) - hExp(i, j)) <= 1e-9 * math.max(1.0, math.abs(hExp(i, j)))))
        val symmetric = (0 until p).forall(i => (0 until p).forall(j =>
          h(i, j) == h(j, i)))
        // PSD: all eigenvalues of the symmetric Hessian are >= -tol
        val psd = breeze.linalg.eigSym(hExp).eigenvalues.toArray.forall(_ >= -1e-9)
        Prop(close && symmetric && psd) :| nm
      }
    }: _*)

  property("colStats is stable for large-mean columns (no cancellation)") =
    forAll(Gen.choose(1.0e9, 2.0e9), Gen.choose(1.0, 10.0)) { (base, sigma) =>
      // epoch-second-like column: mean² ≈ 2.5e18 swallows σ² ≈ 25 under
      // the naive E[x²]−E[x]² form (one ulp at that scale is 512), which
      // would clamp std to 0 and make Normalize call the column CONSTANT
      val vals = (0 until 8).map(i => base + sigma * (i - 3.5))
      val fx = Fx(vals.map(v => (Array(v), 0.0)), Array(0.0))
      val (mean, std) = Kernels.colStats(toData(fx))
      val mu = vals.sum / vals.length
      val varp = vals.map(v => (v - mu) * (v - mu)).sum / vals.length
      Prop(std(0) > 0.0 &&
        math.abs(std(0) - math.sqrt(varp)) <= 1e-6 * math.sqrt(varp) &&
        math.abs(mean(0) - mu) <= 1e-6) :|
        s"std=${std(0)} want=${math.sqrt(varp)} mean=${mean(0)} want=$mu"
    }

  property("colStats matches population mean and std") =
    forAll(fxGen(Gen.const(0.0))) { fx =>
      val (mean, std) = Kernels.colStats(toData(fx))
      val n = fx.rows.length
      val p = fx.beta.length
      val ok = (0 until p).forall { j =>
        val colVals = fx.rows.map(_._1(j))
        val mu = colVals.sum / n
        val varp = colVals.map(v => (v - mu) * (v - mu)).sum / n
        math.abs(mean(j) - mu) <= 1e-9 &&
          math.abs(std(j) - math.sqrt(varp)) <= 1e-9
      }
      Prop(ok)
    }

  property("lossLadder equals pointwise losses at each stepped beta") =
    forAll(fxGen(Gen.oneOf(0.0, 1.0)), Gen.listOfN(3, Gen.choose(0.0, 1.0))) {
      (fx, steps) =>
        val data = toData(fx)
        val beta = DenseVector(fx.beta)
        val dir = DenseVector(fx.beta.map(b => 0.5 - b * 0.25))
        // and the gradients: taken at the ladder margin t − s·u, so equal
        // to an exact-margin gradient pass up to rounding
        val (losses, grads) = Kernels.lossLadder(data, beta, dir, steps.toArray, Logistic)
        def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        val ok = losses.length == steps.length && grads.length == steps.length &&
          steps.indices.forall { k =>
            val bk = beta - dir * steps(k)
            close(losses(k), Kernels.loss(data, bk, Logistic)) &&
              grads(k).toArray.zip(Kernels.grad(data, bk, Logistic).toArray)
                .forall { case (a, b) => close(a, b) }
          }
        Prop(ok)
    }

  property("lossMulti is bit-identical to lossGrad at every candidate (dense and sparse)") =
    Prop.all(fams.flatMap { case (nm, fam, yGen) =>
      Seq(("dense", fxGen(yGen), toData _),
        ("sparse", fxGen(yGen, sparseX), toSparseData _)).map { case (kind, gen, mk) =>
        forAll(gen, Gen.listOfN(3, Gen.choose(-1.0, 1.0))) { (fx, shifts) =>
          val data = mk(fx)
          val betas = shifts.map(c => DenseVector(fx.beta.map(_ + c))).toArray
          val (losses, grads) = Kernels.lossMulti(data, betas, fam)
          val ok = losses.length == betas.length && betas.indices.forall { k =>
            val (l, g) = Kernels.lossGrad(data, betas(k), fam)
            losses(k) == l && grads(k) == g
          }
          Prop(ok) :| s"$nm/$kind"
        }
      }
    }: _*)
}

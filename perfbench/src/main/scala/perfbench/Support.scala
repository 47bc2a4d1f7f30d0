package perfbench

import breeze.linalg.DenseVector

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Length covered by the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Counter-based pseudo-random numbers: every value is a pure function of
  * (seed, row, stream), so Spark tasks and the driver regenerate exactly
  * the same inputs whatever the partitioning. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, row: Long, stream: Int): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ row)

  /** Uniform in [0, 1). */
  def uniform(seed: Long, row: Long, stream: Int): Double =
    (bits(seed, row, stream) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal (Box-Muller over streams 2k and 2k+1). */
  def normal(seed: Long, row: Long, k: Int): Double = {
    val u1 = 1.0 - uniform(seed, row, 2 * k)
    val u2 = uniform(seed, row, 2 * k + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def below(seed: Long, row: Long, stream: Int, n: Int): Int =
    (uniform(seed, row, stream) * n).toInt

  def sigmoid(t: Double): Double = 1.0 / (1.0 + math.exp(-t))

  /** One logistic-regression row: features x_j = mean_j + scale_j·N(0,1)
    * and a label drawn from σ(x·β + b0). */
  def glmRow(seed: Long, row: Long, beta: Array[Double], b0: Double,
      means: Array[Double], scales: Array[Double]): (Array[Double], Double) = {
    val p = beta.length
    val x = new Array[Double](p)
    var t = b0
    var j = 0
    while (j < p) {
      x(j) = means(j) + scales(j) * normal(seed, row, j)
      t += x(j) * beta(j)
      j += 1
    }
    (x, if (uniform(seed, row, 2 * p + 7) < sigmoid(t)) 1.0 else 0.0)
  }
}

/** Driver-side logistic model in the normalized coordinates the solvers
  * optimize in: rows are standardized with the same rule as the program's
  * normalization (scale every column; centre only when a constant column
  * carries the intercept). Used for the reference solutions and for the
  * per-fit objective and moment checks; it shares no code with the
  * program beyond Breeze's optimizers. */
final class LogitProblem(val x: Array[Array[Double]], val y: Array[Double],
    interceptIdx: Int) {
  val n: Int = x.length
  val p: Int = x(0).length
  val (mean, std) = {
    val m = new Array[Double](p)
    val s = new Array[Double](p)
    x.foreach { r => var j = 0; while (j < p) { m(j) += r(j); j += 1 } }
    var j = 0
    while (j < p) { m(j) /= n; j += 1 }
    x.foreach { r => j = 0; while (j < p) { val d = r(j) - m(j); s(j) += d * d; j += 1 } }
    j = 0
    while (j < p) { s(j) = math.sqrt(s(j) / n); j += 1 }
    if (interceptIdx >= 0) { s(interceptIdx) = 1.0 }
    val centre = if (interceptIdx >= 0) m.clone() else new Array[Double](p)
    if (interceptIdx >= 0) centre(interceptIdx) = 0.0
    (centre, s)
  }

  /** Map fitted (original-scale) coefficients to the normalized ones the
    * penalty applies to. */
  def toNormalized(beta: Array[Double]): Array[Double] = {
    val b = Array.tabulate(p)(j => beta(j) * std(j))
    if (interceptIdx >= 0) {
      var adj = 0.0
      var j = 0
      while (j < p) { if (j != interceptIdx) adj += beta(j) * mean(j); j += 1 }
      b(interceptIdx) = beta(interceptIdx) + adj
    }
    b
  }

  @inline private def log1pExp(t: Double): Double =
    if (t > 0) t + math.log1p(math.exp(-t)) else math.log1p(math.exp(t))

  /** Σ log(1 + e^{xβ}) − y·xβ at original-scale β. */
  def loss(beta: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      val r = x(i)
      var t = 0.0
      var j = 0
      while (j < p) { t += r(j) * beta(j); j += 1 }
      s += log1pExp(t) - y(i) * t
      i += 1
    }
    s
  }

  /** |Σσ(xβ) − Σy|: zero at an unpenalized optimum with an intercept. */
  def momentGap(beta: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      val r = x(i)
      var t = 0.0
      var j = 0
      while (j < p) { t += r(j) * beta(j); j += 1 }
      s += Gen.sigmoid(t) - y(i)
      i += 1
    }
    math.abs(s)
  }

  def penalty(reg: String, betaN: Array[Double]): Double = reg match {
    case "l1" => betaN.map(math.abs).sum
    case "l2" => betaN.map(b => b * b).sum / 2
    case _ => 0.0
  }

  def objective(reg: String, lamduh: Double, beta: Array[Double]): Double =
    loss(beta) + (if (reg == "none") 0.0 else lamduh * penalty(reg, toNormalized(beta)))

  /** Loss and gradient in normalized coordinates. */
  private def lossGradN(bn: Array[Double]): (Double, Array[Double]) = {
    val g = new Array[Double](p)
    var s = 0.0
    val z = new Array[Double](p)
    var i = 0
    while (i < n) {
      val r = x(i)
      var t = 0.0
      var j = 0
      while (j < p) { z(j) = (r(j) - mean(j)) / std(j); t += z(j) * bn(j); j += 1 }
      s += log1pExp(t) - y(i) * t
      val d = Gen.sigmoid(t) - y(i)
      j = 0
      while (j < p) { g(j) += d * z(j); j += 1 }
      i += 1
    }
    (s, g)
  }

  /** Tight reference optimum, returned at original scale. */
  def solve(reg: String, lamduh: Double): Array[Double] = {
    import breeze.optimize.{DiffFunction, LBFGS, OWLQN}
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(b: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val (l, g) = lossGradN(b.toArray)
        if (reg == "l2") (l + lamduh * (b dot b) / 2, DenseVector(g) + b * lamduh)
        else (l, DenseVector(g))
      }
    }
    val init = DenseVector.zeros[Double](p)
    val bn =
      if (reg == "l1") new OWLQN[Int, DenseVector[Double]](2000, 10, lamduh, 1e-12).minimize(f, init)
      else new LBFGS[DenseVector[Double]](2000, 10, 1e-12).minimize(f, init)
    fromNormalized(bn.toArray)
  }

  private def fromNormalized(bn: Array[Double]): Array[Double] = {
    val b = Array.tabulate(p)(j => bn(j) / std(j))
    if (interceptIdx >= 0) {
      var adj = 0.0
      var j = 0
      while (j < p) { if (j != interceptIdx) adj += b(j) * mean(j); j += 1 }
      b(interceptIdx) = bn(interceptIdx) - adj
    }
    b
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

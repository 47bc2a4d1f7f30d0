package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's dispatched scalar math surface (utils.py:42-162, §2.B)
  * as named Column helpers — scalar ops compose Spark built-ins and the
  * array reductions use the native fused expressions (ArrayMath), so
  * everything stays inside whole-stage codegen (no UDFs).
  */
object MathFunctions {

  /** σ(x) = 1/(1+e^{-x}) (utils.py:49-51). */
  def sigmoid(c: Column): Column = lit(1.0) / (lit(1.0) + exp(-c))

  /** Numerically stable log(1+e^{x}) = max(x,0) + log1p(e^{-|x|})
    * (the loglike building block; SURVEY §7.3.4). */
  def log1pexp(c: Column): Column =
    greatest(c, lit(0.0)) + log1p(exp(-abs(c)))

  /** absolute / sign — direct built-ins, named to mirror utils.py's
    * dispatch table. */
  def absolute(c: Column): Column = abs(c)
  def sign(c: Column): Column = signum(c)

  /** Elementwise dot product of two array<double> columns (A1 kernel in
    * SQL): native fused-loop expression with real codegen — the same
    * sequential left fold as `aggregate(zip_with(a, b, *), 0, +)`
    * (bit-identical values), minus the HOF interpretation overhead that
    * would drag the projection out of whole-stage codegen. */
  def arrayDot(a: Column, b: Column): Column = ArrayMath.dot(a, b)

  /** x·β for a constant coefficient vector. */
  def dotConst(features: Column, beta: Seq[Double]): Column =
    arrayDot(features.cast("array<double>"), typedLit(beta))

  /** L2 norm of an array<double> column. */
  def arrayNorm(a: Column): Column = sqrt(arrayDot(a, a))

  /** Cosine similarity of two array<double> columns: fused single-pass
    * native expression (bit-identical to
    * `arrayDot(a,b) / (arrayNorm(a) * arrayNorm(b))`, one array
    * traversal per row instead of three — the ANN rerank hot loop). */
  def cosineSim(a: Column, b: Column): Column = ArrayMath.cosineSim(a, b)
}

package graft.functions

import graft.families.Family
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

case class GlmRow(features: Seq[Double], label: Double)
case class LossGrad(loss: Double, grad: Array[Double])

/** Typed SQL-visible UDAF façade over the fused loss+gradient kernel
  * (SURVEY §2.7 UDAF surface): the same math as `Kernels.lossGrad`,
  * expressed as an `Aggregator` so it runs inside a DataFrame aggregation
  * (`ds.select(agg.toColumn)`) or registers for SQL via
  * `functions.udaf`. The RDD kernel remains the solver hot path
  * (partition-ordered combine for bit determinism); this form trades that
  * ordering guarantee for Catalyst integration.
  *
  * The buffer carries a primitive `Array[Double]` that `reduce`/`merge`
  * mutate in place (the Aggregator contract explicitly permits mutating
  * and returning the buffer) — zero per-row gradient copies. Ragged rows
  * fail loudly, as in `GlmData`'s block builder: a row whose feature
  * vector disagrees with `beta.length` would otherwise silently truncate
  * (longer) or read out of bounds (shorter).
  */
class GlmLossGradAggregator(family: Family, beta: Array[Double])
    extends Aggregator[GlmRow, LossGrad, LossGrad] {

  override def zero: LossGrad = LossGrad(0.0, new Array[Double](beta.length))

  override def reduce(acc: LossGrad, row: GlmRow): LossGrad = {
    if (row.features.length != beta.length)
      throw new IllegalArgumentException(
        s"ragged row: feature vector of dim ${row.features.length} vs " +
          s"beta of dim ${beta.length}")
    var xb = 0.0
    var i = 0
    while (i < beta.length) { xb += row.features(i) * beta(i); i += 1 }
    val w = family.dLoss(xb, row.label)
    val g = acc.grad
    i = 0
    while (i < beta.length) { g(i) += w * row.features(i); i += 1 }
    LossGrad(acc.loss + family.loss(xb, row.label), g)
  }

  override def merge(a: LossGrad, b: LossGrad): LossGrad = {
    val g = a.grad
    var i = 0
    while (i < g.length) { g(i) += b.grad(i); i += 1 }
    LossGrad(a.loss + b.loss, g)
  }

  override def finish(acc: LossGrad): LossGrad = acc

  override def bufferEncoder: Encoder[LossGrad] = Encoders.product[LossGrad]
  override def outputEncoder: Encoder[LossGrad] = Encoders.product[LossGrad]
}

package graft.solvers

import breeze.linalg.DenseVector
import graft.core.GlmData

/** The reference's `@normalize` decorator (utils.py:14-39): standardize
  * columns, run the solver on the standardized data, un-transform the
  * coefficients. Three unit-tested branches (test_utils.py:10-51):
  *   1. exactly one zero-std (constant) column → treated as intercept:
  *      its mean→0, std→1, and the intercept coefficient absorbs
  *      `i_adj = Σ(out·mean/std)` — NOTE this correction is exact only
  *      when the constant column is the ONES column `add_intercept`
  *      appends (the margin identity `X·β' = Xn·β̂` needs x_int = 1; a
  *      constant c ≠ 1 would need i_adj/c — property-checked in
  *      NormalizePropsSpec, same contract as the reference);
  *   2. more than one constant column → error;
  *   3. no constant column → scale-only (mean forced to zeros).
  */
object Normalize {

  def apply(data: GlmData, normalize: Boolean)(
      solve: GlmData => DenseVector[Double]): DenseVector[Double] = {
    if (!normalize) return solve(data)
    val p = data.numFeatures
    val (mean0, std0) = data.columnStats
    val interceptIdx = (0 until p).filter(i => std0(i) == 0.0)
    if (interceptIdx.length > 1)
      throw new IllegalArgumentException("Multiple constant columns detected!")

    val std = std0.copy
    interceptIdx.foreach(i => std(i) = 1.0)
    val mean =
      if (interceptIdx.isEmpty) DenseVector.zeros[Double](p)
      else {
        val m = mean0.copy; interceptIdx.foreach(i => m(i) = 0.0); m
      }

    val mArr = mean.toArray
    val sArr = std.toArray
    // standardization densifies by construction (x − mean is dense unless
    // mean is 0) — the reason the estimator disables normalize for sparse
    // input (estimators.py:82-84). The solver sees a view of the same
    // (cached) blocks that carries (mean, std); the kernels standardize
    // each row inline instead of a second copy of the dataset being
    // mapped or persisted (SURVEY A5: fold scaling into the kernels).
    val out = solve(data.standardized(mArr, sArr)).copy
    // un-transform: out[i] -= Σ(out·mean/std) at the intercept slot; out /= std
    var iAdj = 0.0
    var i = 0
    while (i < p) { iAdj += out(i) * mArr(i) / sArr(i); i += 1 }
    interceptIdx.foreach(i => out(i) -= iAdj)
    i = 0
    while (i < p) { out(i) /= sArr(i); i += 1 }
    out
  }
}

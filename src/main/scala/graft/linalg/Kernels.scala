package graft.linalg

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.core.{GlmData, RowCursor}
import graft.families.Family

/** The engine's entire distributed surface: five single-pass kernels over
  * the row-partitioned design matrix. Everything else (β updates, line
  * search control, prox, convergence) is O(p)/O(p²) driver math.
  *
  * Design notes (100 TB discipline):
  *  - every kernel is ONE scan, no shuffle: per-partition partials of size
  *    O(p) / O(p²) are combined on the driver;
  *  - partials are combined in partition-index order so results are
  *    bit-deterministic run-to-run ([[orderedPartialFold]]);
  *  - β ships to executors via closure capture of a small primitive array
  *    (≙ scatter/broadcast, utils.py:208-215);
  *  - kernels walk the packed blocks with a [[RowCursor]]: no per-row
  *    objects, sparse rows never densify (accumulation walks stored
  *    entries only), and a standardized view's rows are standardized
  *    inline, one scratch row per task.
  */
object Kernels {

  /** Kernel partial counts above this combine through reducer runs;
    * at or below it, a direct driver-side fold (cheaper: no extra
    * stage) — both bit-deterministic. */
  private[graft] val TreeCombineThreshold = 128

  /** The flat-collect bound for [[orderedRddAggregate]] and the IVF
    * trainer: their partials are O(k·d), far bigger than a GLM kernel's
    * O(p²), so the bound is tighter than [[TreeCombineThreshold]]. */
  private[graft] val TrainerCombineThreshold = 64

  /** Deterministic aggregate: `fold` runs once per partition over a
    * [[RowCursor]] on its blocks (rows in order, one running accumulator
    * across the blocks), then partials are combined in partition-index
    * order by [[orderedPartialFold]] with [[TreeCombineThreshold]]: a
    * flat collect, sort and left fold up to 128 partitions, recursive
    * runs of 128 above it, so neither the driver nor any reducer holds
    * more than 128 O(p²) partials at the 10⁵–10⁶ partitions a 100 TB
    * input produces. U must be O(p²) small. */
  private[graft] def partitionFold[U: scala.reflect.ClassTag](data: GlmData)(
      fold: RowCursor => U)(combOp: (U, U) => U): U = {
    val (p, m, s) = (data.numFeatures, data.mean, data.std)
    val partials = data.blocks.mapPartitionsWithIndex { (idx, it) =>
      Iterator.single((idx, fold(new RowCursor(it, p, m, s))))
    }
    orderedPartialFold(partials, data.numPartitions, combOp, TreeCombineThreshold)
      .getOrElse(fold(new RowCursor(Iterator.empty, p, m, s)))
  }

  /** Ordered fold of indexed per-partition partials from an ARBITRARY
    * RDD — the one ordered combine behind [[partitionFold]] and the
    * index trainers in [[graft.ops.Similarity]]:
    *
    *  - partials arrive as `(partitionIndex, U)`; EMPTY partitions may
    *    simply not emit (additive-identity partials are skippable);
    *  - while more than `flatThreshold` partials remain, one tree level
    *    folds contiguous runs of `flatThreshold` indices inside single
    *    reducers, each run left-folded in index order — recursing, so
    *    the DRIVER (and any one reducer) never holds more than
    *    `flatThreshold` partials at once, even at the 10⁵–10⁶ partition
    *    counts a 100 TB scan produces (the r15 single-level form
    *    collected up to 1024 full k·d partials ≈ 4 GB on the driver —
    *    ADVICE r15);
    *  - the combine tree is a pure function of (partition count,
    *    flatThreshold): bit-identical run-to-run (the reference's
    *    determinism contract, test_algos_families.py:141-160 — dask's
    *    tree reductions are order-fixed by graph structure; Spark's
    *    treeAggregate merges in task-completion order, so we fix the
    *    order ourselves).
    *
    * Returns None when NO partition emitted a partial. */
  private[graft] def orderedPartialFold[U: scala.reflect.ClassTag](
      partials: org.apache.spark.rdd.RDD[(Int, U)],
      nParts: Int,
      combOp: (U, U) => U,
      flatThreshold: Int = TrainerCombineThreshold): Option[U] = {
    require(flatThreshold >= 2, s"flatThreshold must be >= 2, got $flatThreshold")
    var cur = partials
    var n = nParts
    while (n > flatThreshold) {
      val numGroups = (n + flatThreshold - 1) / flatThreshold
      cur = cur
        .map { case (idx, u) => (idx / flatThreshold, (idx, u)) }
        .groupByKey(new org.apache.spark.HashPartitioner(numGroups))
        .map { case (g, us) =>
          (g, us.toArray.sortBy(_._1).map(_._2).reduceLeft(combOp))
        }
      n = numGroups
    }
    val arr = cur.collect()
    if (arr.isEmpty) None
    else Some(arr.sortBy(_._1).map(_._2).reduceLeft(combOp))
  }

  /** [[orderedPartialFold]] over a whole RDD: per-partition left fold
    * into a lazily-allocated accumulator (empty partitions emit nothing,
    * so no O(k·d) zero block rides the task results), then the ordered
    * combine in runs of [[TrainerCombineThreshold]]. The generic sibling
    * of [[partitionFold]] for non-GlmData inputs. */
  private[graft] def orderedRddAggregate[T, U: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T])(zero: () => U)(
      seqOp: (U, T) => U,
      combOp: (U, U) => U): Option[U] = {
    val partials = rdd.mapPartitionsWithIndex { (idx, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var acc = zero()
        while (it.hasNext) acc = seqOp(acc, it.next())
        Iterator.single((idx, acc))
      }
    }
    orderedPartialFold(partials, rdd.getNumPartitions, combOp)
  }

  /** Fused loss + gradient in one pass (the reference's shared-graph
    * `compute(loss_fn, gradient_fn)`, algorithms.py:405). */
  def lossGrad(data: GlmData, beta: DenseVector[Double], family: Family)
      : (Double, DenseVector[Double]) = {
    val b = beta.toArray
    val p = data.numFeatures
    val fam = family
    val (loss, g) = partitionFold(data)({ c =>
        var l = 0.0
        val g = new Array[Double](p)
        while (c.next()) {
          val xb = c.dot(b)
          c.axpy(fam.dLoss(xb, c.y), g)
          l += fam.loss(xb, c.y)
        }
        (l, g)
      })({ case ((l1, g1), (l2, g2)) =>
        var i = 0
        while (i < p) { g1(i) += g2(i); i += 1 }
        (l1 + l2, g1)
      })
    (loss, DenseVector(g))
  }

  /** Gradient only (families.py:41-45 — A2 kernel). */
  def grad(data: GlmData, beta: DenseVector[Double], family: Family): DenseVector[Double] =
    lossGrad(data, beta, family)._2

  /** Loss only. */
  def loss(data: GlmData, beta: DenseVector[Double], family: Family): Double =
    lossGrad(data, beta, family)._1

  /** Fused Hessian + gradient in one pass (the reference's
    * `da.compute(hess, grad)` shared traversal, algorithms.py:205).
    * H = Xᵀ diag(d2Loss) X via per-row rank-1 updates — active entries
    * only for sparse rows.
    *
    * Partials carry only the packed UPPER TRIANGLE — p(p+1)/2 doubles,
    * row-major with (i, j≥i) at `i·p − i(i−1)/2 + (j−i)`. The strict
    * lower triangle of a full p² buffer is identically zero until the
    * driver-side symmetrize, so shipping it doubled every partial and
    * the combine work for nothing (8 MB vs 4 MB per partial at p=10³
    * through the tree combine). */
  def gradHess(data: GlmData, beta: DenseVector[Double], family: Family)
      : (DenseVector[Double], DenseMatrix[Double]) = {
    val b = beta.toArray
    val p = data.numFeatures
    val fam = family
    val tri = p * (p + 1) / 2
    val (g, h) = partitionFold(data)({ c =>
        val g = new Array[Double](p)
        val h = new Array[Double](tri)
        while (c.next()) {
          val xb = c.dot(b)
          val w1 = fam.dLoss(xb, c.y)
          val w2 = fam.d2Loss(xb, c.y)
          c.axpy(w1, g)
          val v = c.vals
          val lo = c.lo
          val hi = c.hi
          val idx = c.idx
          if (idx == null) {
            var i = 0
            while (i < p) {
              val wxi = w2 * v(lo + i)
              var o = i * p - i * (i - 1) / 2
              var j = i
              while (j < p) { h(o) += wxi * v(lo + j); j += 1; o += 1 }
              i += 1
            }
          } else {
            // indices strictly increase, so the upper triangle (j ≥ i)
            // of the row's outer product is every pair with c ≥ a
            var a = lo
            while (a < hi) {
              val wxi = w2 * v(a)
              val i = idx(a)
              val o = i * p - i * (i - 1) / 2 - i
              var k = a
              while (k < hi) { h(o + idx(k)) += wxi * v(k); k += 1 }
              a += 1
            }
          }
        }
        (g, h)
      })({ case ((g1, h1), (g2, h2)) =>
        var i = 0
        while (i < p) { g1(i) += g2(i); i += 1 }
        var k = 0
        while (k < h1.length) { h1(k) += h2(k); k += 1 }
        (g1, h1)
      })
    val H = new DenseMatrix[Double](p, p)
    var i = 0
    var o = 0
    while (i < p) {
      var j = i
      while (j < p) { H(i, j) = h(o); H(j, i) = h(o); j += 1; o += 1 }
      i += 1
    }
    (DenseVector(g), H)
  }

  /** Line-search ladder: losses AND gradients at β − s_k·dir for every
    * candidate step in ONE pass (per row: t = x·β and u = x·dir once, then
    * K cheap updates on the margin t − s_k·u). Strictly fewer jobs than the
    * reference's sequential probes (algorithms.py:63-86) while visiting the
    * identical candidate ladder; the gradients let gradient descent carry
    * the accepted candidate's gradient into its next iteration instead of
    * re-scanning for it.
    *
    * The gradient is taken at the ladder margin, not at a recomputed
    * x·(β − s·dir): the reference's own incremental arithmetic
    * (`Xbeta ← Xbeta − s·Xstep`, SURVEY §O3), equal to the exact-margin
    * gradient up to rounding. Partials carry K·(p+1) doubles, so callers
    * keep K small (gradient descent passes at most 10 candidates). */
  def lossLadder(
      data: GlmData,
      beta: DenseVector[Double],
      dir: DenseVector[Double],
      steps: Array[Double],
      family: Family): (Array[Double], Array[DenseVector[Double]]) = {
    val b = beta.toArray
    val d = dir.toArray
    val ss = steps
    val fam = family
    val p = data.numFeatures
    val (losses, grads) = partitionFold(data)({ c =>
        val ls = new Array[Double](ss.length)
        val gs = Array.fill(ss.length)(new Array[Double](p))
        while (c.next()) {
          val t = c.dot(b)
          val u = c.dot(d)
          var k = 0
          while (k < ss.length) {
            val m = t - ss(k) * u
            ls(k) += fam.loss(m, c.y)
            c.axpy(fam.dLoss(m, c.y), gs(k))
            k += 1
          }
        }
        (ls, gs)
      })(addCandidates)
    (losses, grads.map(DenseVector(_)))
  }

  /** Losses AND gradients at arbitrary candidate βs in ONE pass
    * (proximal-grad probes, where each candidate is a nonlinear prox image
    * of β). Each candidate's (loss, gradient) is bit-identical to
    * [[lossGrad]] at that candidate: the same exact x·β_k, the same per-row
    * accumulation and the same partition-ordered combine. */
  def lossMulti(
      data: GlmData,
      betas: Array[DenseVector[Double]],
      family: Family): (Array[Double], Array[DenseVector[Double]]) = {
    val bs = betas.map(_.toArray)
    val fam = family
    val p = data.numFeatures
    val (losses, grads) = partitionFold(data)({ c =>
        val ls = new Array[Double](bs.length)
        val gs = Array.fill(bs.length)(new Array[Double](p))
        while (c.next()) {
          var k = 0
          while (k < bs.length) {
            val xb = c.dot(bs(k))
            ls(k) += fam.loss(xb, c.y)
            c.axpy(fam.dLoss(xb, c.y), gs(k))
            k += 1
          }
        }
        (ls, gs)
      })(addCandidates)
    (losses, grads.map(DenseVector(_)))
  }

  /** Combine for per-candidate (losses, gradients) partials, in place. */
  private def addCandidates(
      a: (Array[Double], Array[Array[Double]]),
      b: (Array[Double], Array[Array[Double]])): (Array[Double], Array[Array[Double]]) = {
    var k = 0
    while (k < a._1.length) {
      a._1(k) += b._1(k)
      val g1 = a._2(k)
      val g2 = b._2(k)
      var i = 0
      while (i < g1.length) { g1(i) += g2(i); i += 1 }
      k += 1
    }
    a
  }

  /** Column mean/std in one pass — the A4 stats kernel behind
    * `@normalize` (utils.py:19). Population std (ddof=0) to match
    * `np.std`.
    *
    * Numerically STABLE: per-partition Welford (count, mean, M2)
    * merged with Chan's pairwise formula, in partition order
    * (deterministic). The naive E[x²]−E[x]² one-pass form
    * catastrophically cancels for large-mean columns (epoch-second
    * timestamps: mean² ≈ 2.5e18 swallows a σ² of 25, the clamp calls
    * the column CONSTANT, and Normalize either throws
    * "Multiple constant columns" on valid data or silently treats the
    * column as the intercept) — numpy's std is stable, so the naive
    * form was also a reference-parity gap. Sparse rows contribute
    * zeros implicitly: active entries run Welford; the (n − nnz)
    * zero block folds in at the end as one Chan merge with a
    * (count=z, mean=0, M2=0) block. */
  def colStats(data: GlmData): (DenseVector[Double], DenseVector[Double]) = {
    val p = data.numFeatures
    val (n, cnt, mu, m2) = partitionFold(data)({ c =>
        var n = 0L
        val (cnt, mu, m2) = (new Array[Long](p), new Array[Double](p), new Array[Double](p))
        while (c.next()) {
          val vs = c.vals
          val idx = c.idx
          var k = c.lo
          while (k < c.hi) {
            val i = if (idx == null) k - c.lo else idx(k)
            val v = vs(k)
            cnt(i) += 1
            val d = v - mu(i)
            mu(i) += d / cnt(i)
            m2(i) += d * (v - mu(i))
            k += 1
          }
          n += 1
        }
        (n, cnt, mu, m2)
      })({ case ((n1, c1, u1, s1), (n2, c2, u2, s2)) =>
        var i = 0
        while (i < p) {
          if (c2(i) > 0) {
            if (c1(i) == 0) { c1(i) = c2(i); u1(i) = u2(i); s1(i) = s2(i) }
            else {
              val tot = c1(i) + c2(i)
              val d = u2(i) - u1(i)
              u1(i) += d * c2(i) / tot
              s1(i) += s2(i) + d * d * c1(i).toDouble * c2(i).toDouble / tot
              c1(i) = tot
            }
          }
          i += 1
        }
        (n1 + n2, c1, u1, s1)
      })
    require(n > 0,
      "colStats on an empty dataset (0 rows reached the stats kernel)")
    val mean = new Array[Double](p)
    val std = new Array[Double](p)
    var i = 0
    while (i < p) {
      val z = n - cnt(i) // implicit sparse zeros
      val (m, s) =
        if (cnt(i) == 0) (0.0, 0.0)
        else if (z == 0) (mu(i), m2(i))
        else (mu(i) * cnt(i) / n,
          m2(i) + mu(i) * mu(i) * cnt(i).toDouble * z.toDouble / n)
      mean(i) = m
      val v = s / n
      std(i) = if (v > 0) math.sqrt(v) else 0.0
      i += 1
    }
    (DenseVector(mean), DenseVector(std))
  }

  /** Sum of labels (used by the moment-condition oracle + metrics). */
  def labelSum(data: GlmData): Double =
    partitionFold(data)({ c =>
      var a = 0.0
      while (c.next()) a += c.y
      a
    })(_ + _)
}

package graft.core

import breeze.linalg.DenseVector
import org.apache.spark.ml.linalg.{DenseVector => MlDense, SparseVector => MlSparse, Vector => MlVector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

/** One packed run of consecutive rows of a [[GlmData]] partition.
  *
  * Dense layout (`rowPtr == null`): `values` is row-major, p per row.
  * CSR layout: row r holds entries `rowPtr(r) until rowPtr(r + 1)` of
  * `values` at columns `colIdx`. A block is CSR as soon as one of its rows
  * came in sparse; its dense rows then keep all p entries, so they take
  * exactly the arithmetic of a dense row. */
final class GlmBlock(
    val labels: Array[Double],
    val values: Array[Double],
    val rowPtr: Array[Int],
    val colIdx: Array[Int])
    extends Serializable {

  def numRows: Int = labels.length

  /** A dense copy of the block standardized as (x − mean)/std. */
  private[graft] def standardized(p: Int, mean: Array[Double], std: Array[Double]): GlmBlock = {
    val out = new Array[Double](numRows * p)
    val c = new RowCursor(Iterator.single(this), p, mean, std)
    var o = 0
    while (c.next()) { System.arraycopy(c.vals, 0, out, o, p); o += p }
    new GlmBlock(labels, out, null, null)
  }
}

/** Walks a partition's rows in order across its blocks. After `next()`
  * the current row is entries `lo until hi` of `vals`, at columns `idx(k)`
  * (CSR) or `k − lo` (dense, `idx == null`), with label `y`. Given
  * `mean`/`std`, every row arrives dense as (x − mean)/std, computed into
  * one scratch row with the same IEEE operations a materialized
  * standardized copy would use. */
final class RowCursor(
    blocks: Iterator[GlmBlock],
    p: Int,
    mean: Array[Double],
    std: Array[Double]) {
  var vals: Array[Double] = _
  var idx: Array[Int] = _
  var lo = 0
  var hi = 0
  var y = 0.0
  private var blk: GlmBlock = _
  private var r = 0
  private val z = if (mean == null) null else new Array[Double](p)

  def next(): Boolean = {
    while (blk == null || r == blk.numRows) {
      if (!blocks.hasNext) return false
      blk = blocks.next()
      r = 0
    }
    vals = blk.values
    idx = blk.colIdx
    if (blk.rowPtr == null) { lo = r * p; hi = lo + p }
    else { lo = blk.rowPtr(r); hi = blk.rowPtr(r + 1) }
    y = blk.labels(r)
    r += 1
    if (z != null) {
      if (idx == null) {
        var i = 0
        while (i < p) { z(i) = (vals(lo + i) - mean(i)) / std(i); i += 1 }
      } else {
        java.util.Arrays.fill(z, 0.0)
        var k = lo
        while (k < hi) { z(idx(k)) = vals(k); k += 1 }
        var i = 0
        while (i < p) { z(i) = (z(i) - mean(i)) / std(i); i += 1 }
      }
      vals = z; idx = null; lo = 0; hi = p
    }
    true
  }

  /** x·b over the stored entries. */
  def dot(b: Array[Double]): Double = {
    val v = vals; val ix = idx; val l = lo; val h = hi
    var s = 0.0
    var k = l
    if (ix == null) while (k < h) { s += v(k) * b(k - l); k += 1 }
    else while (k < h) { s += v(k) * b(ix(k)); k += 1 }
    s
  }

  /** g += w·x over the stored entries. */
  def axpy(w: Double, g: Array[Double]): Unit = {
    val v = vals; val ix = idx; val l = lo; val h = hi
    var k = l
    if (ix == null) while (k < h) { g(k - l) += w * v(k); k += 1 }
    else while (k < h) { g(ix(k)) += w * v(k); k += 1 }
  }

  /** The current row as an MLlib vector (a copy). */
  def row: MlVector =
    if (idx == null) new MlDense(java.util.Arrays.copyOfRange(vals, lo, hi))
    else new MlSparse(p, java.util.Arrays.copyOfRange(idx, lo, hi),
      java.util.Arrays.copyOfRange(vals, lo, hi))
}

/** Row-partitioned design matrix X (n×p) + target y, the engine's single
  * data abstraction: one Spark partition ≙ one dask chunk of the reference
  * (datasets.py:48-56 chunks rows, never columns).
  *
  * Storage is packed: each partition holds its rows, in input order, as
  * one or more [[GlmBlock]]s of at most about [[GlmData.BlockDoubles]]
  * stored values and labels — primitive arrays, no per-row objects, so
  * the cache is the size of its values. Dense and sparse rows share one
  * kernel path through [[RowCursor]]; sparse rows never densify (the
  * reference's numpy/sparse.COO dispatch, utils.py:54-146). Ragged rows
  * fail loudly when the blocks are built.
  *
  * A standardized view ([[standardized]]) shares the blocks and carries
  * (mean, std); kernels standardize each row inline, so `@normalize`
  * neither copies nor caches a second matrix.
  *
  * Public surface is DataFrame-first (`features: array<double>` or
  * `VectorUDT`, `label: double` — FIXTURES.md schema); kernels run on the
  * block RDD so each pass is a single scan, no shuffles.
  */
final class GlmData private (
    val blocks: RDD[GlmBlock],
    val numFeatures: Int,
    /** Whether the FIRST row is sparse (`fromDF` samples only that row; a
      * full pass to decide would cost a job). Only the estimator reads it:
      * sparse input turns normalization off (estimators.py:82-84). The
      * kernels read each block's own layout. */
    val isSparse: Boolean,
    private[graft] val mean: Array[Double],
    private[graft] val std: Array[Double])
    extends Serializable {

  def this(rows: RDD[(MlVector, Double)], numFeatures: Int, isSparse: Boolean) =
    this(rows.mapPartitions(GlmData.pack(_, numFeatures, ones = false)), numFeatures, isSparse,
      null, null)

  /** The rows as MLlib vectors, read through the (cached) blocks; a
    * standardized view yields its standardized dense rows. */
  lazy val rows: RDD[(MlVector, Double)] = {
    val (p, m, s) = (numFeatures, mean, std)
    blocks.mapPartitions { it =>
      val c = new RowCursor(it, p, m, s)
      Iterator.continually(c.next()).takeWhile(identity).map(_ => (c.row, c.y))
    }
  }

  /** Column (mean, std) from one [[graft.linalg.Kernels.colStats]] job on
    * first use, then kept: the blocks never change, so repeated normalized
    * solver calls on one persisted matrix pay the scan once. */
  private[graft] lazy val columnStats: (DenseVector[Double], DenseVector[Double]) =
    graft.linalg.Kernels.colStats(this)

  /** The same blocks seen as (x − mean)/std, standardized inline by the
    * kernels; nothing is copied or cached. */
  private[graft] def standardized(mean: Array[Double], std: Array[Double]): GlmData =
    new GlmData(blocks, numFeatures, false, mean, std)

  /** Persist AND truncate lineage. Without truncation every solver job
    * re-serializes the full upstream lineage — the DataFrame scan plan,
    * file listings, codegen state — into its task binary, which at sf0.1
    * is a 4–8 MiB broadcast PER ITERATION (DAGScheduler "broadcasting
    * large task binary" warnings); on a real cluster that is per-iteration
    * scheduler latency that grows with the input's metadata, not its data.
    * `localCheckpoint` makes the cached blocks themselves the lineage
    * after the first action, so iteration N>1 ships only the O(k·p)
    * solver state. Tradeoff: lost cache blocks cannot be recomputed —
    * the standard iterative-ML bargain (GraphX/ALS checkpoint the same
    * way); safe here because solvers own the persist→fit→unpersist
    * lifecycle (Estimators.fit) and nothing reads `rows` after unpersist. */
  def persist(): this.type = persist(StorageLevel.MEMORY_AND_DISK)

  /** `level` chooses the cache format. The blocks are primitive arrays,
    * so the MEMORY_AND_DISK default already holds little more than the
    * 8-byte values; MEMORY_AND_DISK_SER stores their serialized bytes at
    * a per-pass deserialization cost. Values are IEEE-exact either way,
    * so fits are bit-identical (EstimatorsSpec pins this). */
  def persist(level: StorageLevel): this.type = {
    blocks.persist(level)
    blocks.localCheckpoint()
    this
  }
  def unpersist(): this.type = { blocks.unpersist(false); this }
  def numPartitions: Int = blocks.getNumPartitions

  /** Deterministic repartition. RDD.repartition's round-robin scatter is
    * deterministic, but the REDUCE side concatenates incoming blocks in
    * fetch-arrival order — so within-partition row order (hence per-
    * partition float accumulation order in every kernel) varies run to
    * run, silently voiding the bit-determinism contract
    * [[graft.linalg.Kernels.partitionFold]] documents. Keying rows
    * by their global index and `repartitionAndSortWithinPartitions`
    * restores a total order: assignment is `index mod n` (exactly the
    * round-robin balance) and each partition is sorted by index. Costs
    * one extra pass (zipWithIndex's partition-size count job) at
    * repartition time only — no per-iteration cost. */
  def repartition(n: Int): GlmData = {
    require(n > 0, s"repartition: partition count must be positive, got $n")
    val keyed = rows.zipWithIndex().map { case (r, i) => (i, r) }
    val parted = keyed
      .repartitionAndSortWithinPartitions(new org.apache.spark.HashPartitioner(n))
      .map(_._2)
    new GlmData(parted, numFeatures, isSparse)
  }

  /** Appended-ones intercept, faithful to utils.py:139-162 (sparse stays
    * sparse — the reference concatenates a sparse ones column). */
  def addIntercept: GlmData = {
    val p = numFeatures
    new GlmData(rows.mapPartitions(GlmData.pack(_, p, ones = true)), p + 1, isSparse, null, null)
  }
}

object GlmData {

  /** A block closes once it stores this many values plus labels (32 KiB
    * of doubles); the row that crosses the bound still joins it. */
  private[graft] val BlockDoubles = 4096

  /** Packs one partition's rows into blocks, in row order, with a ones
    * column appended at index p when `ones`. A ragged row — one whose
    * dimension is not p — fails here: packing it would zero-pad or
    * truncate it, or scatter its entries into the next row. */
  private def pack(it: Iterator[(MlVector, Double)], p: Int, ones: Boolean)
      : Iterator[GlmBlock] =
    new Iterator[GlmBlock] {
      def hasNext: Boolean = it.hasNext
      def next(): GlmBlock = {
        val labels = new ArrayBuilder.ofDouble
        val values = new ArrayBuilder.ofDouble
        var rowPtr: ArrayBuilder.ofInt = null // set once a sparse row arrives
        var colIdx: ArrayBuilder.ofInt = null
        val q = if (ones) p + 1 else p
        def allColumns(): Unit = { var i = 0; while (i < q) { colIdx.addOne(i); i += 1 } }
        var n = 0
        while (it.hasNext && values.length + n < BlockDoubles) {
          val (x, y) = it.next()
          val start = values.length
          x match {
            case d: MlDense =>
              if (d.values.length != p)
                throw new IllegalArgumentException(
                  s"ragged row: vector of dim ${d.values.length}, expected $p")
              values.addAll(d.values)
              if (colIdx != null) allColumns()
            case s: MlSparse =>
              if (s.size != p)
                throw new IllegalArgumentException(
                  s"ragged row: sparse vector of dim ${s.size}, expected $p")
              if (colIdx == null) {
                rowPtr = new ArrayBuilder.ofInt
                colIdx = new ArrayBuilder.ofInt
                var r = 0
                while (r < n) { rowPtr.addOne(r * q); allColumns(); r += 1 }
              }
              values.addAll(s.values)
              colIdx.addAll(s.indices)
              if (ones) colIdx.addOne(p)
          }
          if (ones) values.addOne(1.0)
          if (rowPtr != null) rowPtr.addOne(start)
          labels.addOne(y)
          n += 1
        }
        if (rowPtr == null) new GlmBlock(labels.result(), values.result(), null, null)
        else {
          rowPtr.addOne(values.length)
          new GlmBlock(labels.result(), values.result(), rowPtr.result(), colIdx.result())
        }
      }
    }

  /** From a DataFrame with `(features, label)` where features is either
    * `array<double>` or an MLlib `VectorUDT` column. */
  def fromDF(
      df: DataFrame,
      featuresCol: String = "features",
      labelCol: String = "label",
      numFeatures: Int = -1): GlmData = {
    val isVectorUdt = df.schema(featuresCol).dataType.typeName == "vector"
    val selected = df.select(col(featuresCol), col(labelCol).cast("double"))
    // fail-fast null hygiene: a NULL features cell would otherwise reach
    // the kernels as a Scala null and die mid-job with an opaque
    // MatchError; a NULL label or a NULL ELEMENT inside the array would
    // NPE on unboxing — none of those stack traces says "your input had
    // nulls". Same contract as the ops layer (drop or impute first).
    def nullRow(r: org.apache.spark.sql.Row): Boolean =
      r.isNullAt(0) || r.isNullAt(1)
    val nullMsg =
      s"null $featuresCol/$labelCol row reached GlmData — drop or impute NULLs before fitting"
    val rdd: RDD[(MlVector, Double)] =
      if (isVectorUdt)
        selected.rdd.map { r =>
          if (nullRow(r)) throw new IllegalArgumentException(nullMsg)
          (r.getAs[MlVector](0), r.getDouble(1))
        }
      else
        selected
          .select(col(featuresCol).cast("array<double>"), col(labelCol))
          .rdd.map { r =>
            if (nullRow(r)) throw new IllegalArgumentException(nullMsg)
            val seq = r.getSeq[java.lang.Double](0)
            val arr = new Array[Double](seq.length)
            var i = 0
            val it = seq.iterator
            while (it.hasNext) {
              val v = it.next()
              if (v == null)
                throw new IllegalArgumentException(
                  s"null element inside $featuresCol array — " +
                    "drop or impute NULLs before fitting")
              arr(i) = v.doubleValue()
              i += 1
            }
            (Vectors.dense(arr), r.getDouble(1))
          }
    val (p, sparse) =
      if (numFeatures > 0 && !isVectorUdt) (numFeatures, false)
      else {
        val first =
          try rdd.first()._1
          catch {
            case _: UnsupportedOperationException | _: NoSuchElementException =>
              throw new IllegalArgumentException(
                "empty dataset: GlmData requires at least one row to infer numFeatures")
          }
        (if (numFeatures > 0) numFeatures else first.size,
         first.isInstanceOf[MlSparse])
      }
    new GlmData(rdd, p, sparse)
  }

  /** Table→matrix bridge: assemble numeric columns into the features
    * array + a label expression (the reference's `.values` path,
    * docs/examples/basic_api.ipynb). Column pruning reaches the scan. */
  def assemble(df: DataFrame, featureCols: Seq[String], label: Column): GlmData = {
    val feat = array(featureCols.map(c => col(c).cast("double")): _*)
    fromDF(
      df.select(feat.as("features"), label.cast("double").as("label")),
      numFeatures = featureCols.length)
  }
}

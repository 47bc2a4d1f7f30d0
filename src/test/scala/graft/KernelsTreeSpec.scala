package graft

import graft.core.{GlmData, RowCursor}
import graft.datasets.Datasets
import graft.families.Logistic
import graft.linalg.Kernels
import org.scalatest.funsuite.AnyFunSuite

/** The tree-combine path of Kernels.partitionFold: above
  * TreeCombineThreshold partitions the per-partition partials are folded
  * in reducer runs of TreeCombineThreshold instead of a flat driver
  * collect (the 100 TB fix — no holder sees more than 128 partials).
  * Contract under test: bit-identical results run-to-run at a fixed
  * partition count (the reference's determinism requirement),
  * agreement with the small-n path within float tolerance, and
  * partition-index order through the combine itself.
  */
class KernelsTreeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def data512(): GlmData =
    Datasets.makeInterceptData(spark, 4000, 3).repartition(512).persist()

  test("tree combine engages above the threshold and is bit-deterministic") {
    val d = data512()
    try {
      assert(d.numPartitions > Kernels.TreeCombineThreshold)
      val b = breeze.linalg.DenseVector(0.1, -0.2, 0.3, 0.05)
      val (l1, g1) = Kernels.lossGrad(d, b, Logistic)
      val (l2, g2) = Kernels.lossGrad(d, b, Logistic)
      assert(l1 == l2) // exact, not approx: the combine tree is fixed
      assert(g1.toArray.sameElements(g2.toArray))
      val (gh1, h1) = Kernels.gradHess(d, b, Logistic)
      val (gh2, h2) = Kernels.gradHess(d, b, Logistic)
      assert(gh1.toArray.sameElements(gh2.toArray))
      assert(h1.toArray.sameElements(h2.toArray))
    } finally d.unpersist()
  }

  test("tree combine is still ONE Spark job per kernel call") {
    val d = data512()
    try {
      d.rows.count() // materialize cache outside the counted region
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Kernels.lossGrad(d, breeze.linalg.DenseVector.zeros[Double](4), Logistic)
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenersDrained(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      // map + grouped-combine are STAGES of one job, not extra jobs
      assert(counter.get() == 1, s"jobs=${counter.get()}")
    } finally d.unpersist()
  }

  test("tree path agrees with the flat driver fold within float tolerance") {
    val flat = Datasets.makeInterceptData(spark, 4000, 3).repartition(8).persist()
    val tree = flat.repartition(512).persist()
    try {
      val b = breeze.linalg.DenseVector(0.1, -0.2, 0.3, 0.05)
      val (lf, gf) = Kernels.lossGrad(flat, b, Logistic)
      val (lt, gt) = Kernels.lossGrad(tree, b, Logistic)
      // different fold shapes → different rounding, same math
      assert(math.abs(lf - lt) / math.max(1.0, math.abs(lf)) < 1e-10)
      gf.toArray.zip(gt.toArray).foreach { case (a, c) =>
        assert(math.abs(a - c) / math.max(1.0, math.abs(a)) < 1e-10)
      }
      // labelSum is an exact integer-valued sum here → must match exactly
      assert(Kernels.labelSum(flat) == Kernels.labelSum(tree))
    } finally { flat.unpersist(); tree.unpersist() }
  }

  test("tree combine folds partials in partition-index order") {
    val nParts = 2 * Kernels.TreeCombineThreshold + 7
    val rows = (0 until 2 * nParts).map(i =>
      (org.apache.spark.ml.linalg.Vectors.dense(1.0), i.toDouble))
    val d = new GlmData(spark.sparkContext.parallelize(rows, nParts), 1,
      isSparse = false).persist()
    try {
      assert(d.numPartitions > Kernels.TreeCombineThreshold)
      val labels: RowCursor => String = { c =>
        val sb = new StringBuilder
        while (c.next()) sb.append(c.y.toLong).append(',')
        sb.toString
      }
      val expected = d.blocks.mapPartitionsWithIndex { (idx, it) =>
        Iterator.single((idx, labels(new RowCursor(it, 1, null, null))))
      }.collect().sortBy(_._1).map(_._2).foldLeft("")(_ + _)
      assert(expected == (0 until 2 * nParts).map(i => s"$i,").mkString)
      // concatenation does not commute: any misordered merge shows
      assert(Kernels.partitionFold(d)(labels)(_ + _) == expected)
    } finally d.unpersist()
  }
}

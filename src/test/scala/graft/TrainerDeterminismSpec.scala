package graft

import graft.ops.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** Seed-determinism pins for the PCA / OPQ / PQ trainers (VERDICT r15
  * #1): r15 fixed the IVF trainer's treeAggregate task-completion-order
  * merge (float addition is non-associative, so same-seed trainings
  * drifted in the last ulp) and flagged the three sibling trainers as
  * known-latent carriers of the same gap. This round ported
  * `trainPcaProjection` and the OPQ `correlation` pass to
  * `Kernels.orderedRddAggregate` (partition-index-ordered combines);
  * `trainPqCodebooks` had already inherited the fix transitively
  * through `trainIvfCentroids`, which is pinned here directly too.
  * Each pin is 5 consecutive same-seed runs, bit-compared.
  *
  * The fixtures are deliberately hostile to un-ordered folds: multiple
  * partitions under local[4] (so task completion order genuinely
  * varies) and component magnitudes spanning ~9 decades (so ANY
  * reassociation of the partial sums moves observable bits — the
  * earlier 2-run pins in PcaSpec/PqSpec sat on the effectively
  * single-partition sf0.001 fixture, where treeAggregate never had two
  * orders to pick from, which is exactly why the latent gap never
  * flickered there). */
class TrainerDeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** n vectors of width d over `parts` partitions; component magnitudes
    * cycle through 1e-5 … 1e4 so partial sums reassociate visibly. */
  private def hostile(n: Int, d: Int, parts: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val scales = Array(1e-5, 1e-2, 1.0, 1e2, 1e4)
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(d)(j =>
        rnd.nextGaussian() * scales((i + j) % scales.length))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding").repartition(parts)
  }

  private val Runs = 5

  test("trainIvfCentroids: 5 consecutive same-seed runs are bit-identical") {
    val df = hostile(n = 2000, d = 8, parts = 13, seed = 29L)
    df.persist(); df.count()
    val runs = (1 to Runs).map(_ =>
      Similarity.trainIvfCentroids(df, "embedding", kCells = 6, iters = 3,
        seed = 3L).flatten.toSeq)
    df.unpersist()
    assert(runs.distinct.size == 1,
      s"IVF centroids drifted across $Runs same-seed runs")
  }

  test("trainPcaProjection: 5 consecutive same-seed runs are bit-identical") {
    val df = hostile(n = 2000, d = 8, parts = 13, seed = 31L)
    df.persist(); df.count()
    val runs = (1 to Runs).map(_ =>
      Similarity.trainPcaProjection(df, "embedding", dim = 8, toDim = 3)
        .flatten.toSeq)
    df.unpersist()
    assert(runs.distinct.size == 1,
      s"PCA rotation drifted across $Runs same-input runs — the ordered " +
        "fold must make the covariance pass a pure function of the input")
  }

  test("trainPqCodebooks: 5 consecutive same-seed runs are bit-identical") {
    val df = hostile(n = 2000, d = 8, parts = 13, seed = 37L)
    df.persist(); df.count()
    val runs = (1 to Runs).map(_ =>
      Similarity.trainPqCodebooks(df, "embedding", dim = 8, m = 2, ksub = 4,
          iters = 3, seed = 5L)
        .flatMap(_.flatMap(_.toSeq)).toSeq)
    df.unpersist()
    assert(runs.distinct.size == 1,
      s"PQ codebooks drifted across $Runs same-seed runs")
  }

  test("trainOpqRotation: 5 consecutive same-seed runs are bit-identical " +
    "(rotation AND codebooks)") {
    val df = hostile(n = 1200, d = 8, parts = 13, seed = 41L)
    df.persist(); df.count()
    val runs = (1 to Runs).map { _ =>
      val (rot, cbs) = Similarity.trainOpqRotation(df, "embedding", dim = 8,
        m = 2, ksub = 4, iters = 2, opqIters = 2, seed = 9L)
      (rot.flatten.toSeq, cbs.flatMap(_.flatMap(_.toSeq)).toSeq)
    }
    df.unpersist()
    assert(runs.distinct.size == 1,
      s"OPQ rotation/codebooks drifted across $Runs same-seed runs")
  }

  // ---- the mechanism itself, pinned directly --------------------------

  test("orderedPartialFold combines in partition-index order and recurses " +
    "past the flat threshold without losing or reordering anything") {
    val sc = spark.sparkContext
    // 200 single-element partitions with threshold 3 forces FOUR
    // recursion levels (200 -> 67 -> 23 -> 8 -> flat); string concat is
    // non-commutative, so ANY deviation from index order is visible.
    val partials = sc.parallelize(0 until 200, 200)
      .mapPartitionsWithIndex((idx, it) =>
        it.map(v => (idx, v.toString)))
    val folded = graft.linalg.Kernels.orderedPartialFold[String](
      partials, 200, (a, b) => a + "," + b, flatThreshold = 3)
    assert(folded.contains((0 until 200).mkString(",")),
      "fold must be the left fold of partials in partition-index order")
  }

  test("orderedPartialFold: empty partitions are skippable and an " +
    "all-empty RDD folds to None") {
    val sc = spark.sparkContext
    // partials only at sparse indices: 5, 80, 140 of 150 parts
    val partials = sc.parallelize(Seq((5, "a"), (80, "b"), (140, "c")), 150)
    val folded = graft.linalg.Kernels.orderedPartialFold[String](
      partials, 150, (a, b) => a + b, flatThreshold = 4)
    assert(folded.contains("abc"))
    val none = graft.linalg.Kernels.orderedPartialFold[String](
      sc.emptyRDD[(Int, String)], 150, (a, b) => a + b)
    assert(none.isEmpty)
  }
}

package graft

import graft.core.GlmData
import graft.datasets.Datasets
import graft.families.Logistic
import graft.linalg.Kernels
import graft.solvers.Solvers
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The physical-execution contract from SURVEY §4: jobs per solver
  * iteration must match (or beat) the reference's `compute` count —
  * Newton = 1 fused pass/iter, ADMM = 1 mapPartitions pass/iter,
  * gradient descent and proximal gradient = 1 ladder pass/iter in the
  * common case, kernels are single jobs. Counted with a SparkListener. */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def countJobs(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // deterministic drain (replaces a flaky Thread.sleep): block until
      // the listener bus has delivered every queued event
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenersDrained(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    counter.get()
  }

  test("each kernel is exactly ONE Spark job") {
    val data = Datasets.makeInterceptData(spark, 500, 3).persist()
    data.rows.count() // materialize cache outside the counted region
    val b = breeze.linalg.DenseVector.zeros[Double](4)
    assert(countJobs(Kernels.lossGrad(data, b, Logistic)) == 1)
    assert(countJobs(Kernels.gradHess(data, b, Logistic)) == 1)
    assert(countJobs(Kernels.colStats(data)) == 1)
    assert(countJobs(
      Kernels.lossLadder(data, b, b, Array(1.0, 0.5, 0.1), Logistic)) == 1)
    assert(countJobs(Kernels.lossMulti(data, Array(b, b + 0.5), Logistic)) == 1)
    data.unpersist()
  }

  test("newton: 1 fused job per iteration (+1 stats, +2 normalize overhead)") {
    val data = Datasets.makeInterceptData(spark, 500, 3).persist()
    data.rows.count()
    val iters = 5
    val jobs = countJobs {
      Solvers.newton(data, maxIter = iters, tol = 0.0) // tol=0 forces maxIter
    }
    // normalize: 1 colStats + persist-materialization job(s); then 1
    // gradHess per iteration. maxIter+1 iterations run (reference's
    // `iter_count > max_iter` loop bound) + generous overhead allowance.
    assert(jobs <= iters + 1 + 4, s"jobs=$jobs")
    data.unpersist()
  }

  test("gradient_descent / proximal_grad: 1 ladder job per iteration") {
    // the accepted candidate's (loss, gradient) comes back with the
    // ladder pass that accepted it, so only the FIRST iteration pays a
    // separate lossGrad pass. Overhead: 1 colStats (normalize) + 1
    // lossGrad + 1 second probe pass in the first iteration, whose step
    // 1.0 overshoots the sum loss. 8 iterations stay short of the optimum
    // (there every probe is rejected and a line search runs all 100
    // candidates).
    val data = Datasets.makeInterceptData(spark, 500, 3).persist()
    data.rows.count()
    val iters = 8
    val gd = countJobs {
      Solvers.gradientDescent(data, maxIter = iters, tol = 0.0)
    }
    val pg = countJobs {
      Solvers.proximalGrad(data, maxIter = iters, tol = 0.0)
    }
    data.unpersist()
    assert(gd <= iters + 3, s"gradient_descent jobs=$gd for $iters iterations")
    assert(pg <= iters + 3, s"proximal_grad jobs=$pg for $iters iterations")
  }

  test("admm: 1 local-solve job per iteration (+ normalize overhead)") {
    val data = Datasets.makeInterceptData(spark, 500, 3).persist()
    data.rows.count()
    val iters = 4
    val jobs = countJobs {
      Solvers.admm(data, maxIter = iters, lamduh = 0.1)
    }
    assert(jobs <= iters + 4, s"jobs=$jobs")
    data.unpersist()
  }

  test("clusterPairs: exactly ONE job per propagation round") {
    import spark.implicits._
    // chain 1-2-3-4: min(self,nbr) seed sums 7; with pointer jumping +
    // edge offers the sum walks 7 → 4 → 4, so exactly 2 rounds run
    // before the sum repeats (plain propagation needed 4). Each round's
    // full decimal label-sum is both the cache materializer and the
    // convergence probe — 1 job/round + 1 for the initial label table
    // (the round-4 form paid 2 jobs/round: count + change-probe).
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    // AQE turns every action into one job per materialized stage, hiding
    // the action count; with it off, 1 action = 1 job, so the listener
    // measures exactly what the contract promises
    // broadcast-hash builds also count as jobs (one per round on this
    // tiny fixture; at scale the label join is a sort-merge join anyway)
    // — force SMJ so the listener sees exactly the actions
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val jobs = try countJobs {
      // localEdgeThreshold=0 forces the distributed loop — this spec pins
      // the per-round job contract of the at-scale path
      val out = graft.ops.Dedup.clusterPairs(pairs, localEdgeThreshold = 0L)
      assert(out.collect().forall(_.getLong(1) == 1L))
      out.unpersist()
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
    }
    // 1 edge count + 1 init + 2 rounds + 1 final collect (reads the cache)
    assert(jobs <= 5,
      s"jobs=$jobs, expected ≤ 5 (1 count + 1 init + 2 rounds + 1 read)")
  }

  test("clusterPairs local endgame: constant jobs, no round loop") {
    import spark.implicits._
    // a 64-link chain — the distributed loop would need ~7 pointer-jump
    // rounds; the local union-find path pays two jobs total (edge
    // count + collect) regardless of diameter, and the returned local
    // relation collects without launching any
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = try countJobs {
      val out = graft.ops.Dedup.clusterPairs(pairs)
      assert(out.collect().forall(_.getLong(1) == 1L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    assert(jobs <= 3, s"jobs=$jobs, expected ≤ 3 (edge count + collect)")
  }

  test("solver job count is INDEPENDENT of n (the cluster-scale invariant)") {
    // The sf1/sf10 bench decades show wall-time ratios; what a local
    // bench can NOT show is the 1000-executor invariant that makes
    // those ratios hold on a real cluster: the DRIVER-SIDE round count
    // (jobs = scheduling barriers = cluster round trips) must depend
    // only on maxIter, never on n. A solver that slipped a per-row or
    // per-partition-count action into its loop would still look linear
    // locally while serializing the cluster. Run the identical fit at
    // 16x the rows and require the JOB COUNTS EQUAL, not just close.
    val iters = 4
    def jobsAt(n: Int): Map[String, Int] = {
      val data = Datasets.makeInterceptData(spark, n, 3).persist()
      data.rows.count()
      val jobs = Map(
        "newton" -> countJobs {
          Solvers.newton(data, maxIter = iters, tol = 0.0)
        },
        "admm" -> countJobs {
          Solvers.admm(data, maxIter = iters, lamduh = 0.1)
        },
        "gradient_descent" -> countJobs {
          Solvers.gradientDescent(data, maxIter = iters, tol = 0.0)
        },
        "proximal_grad" -> countJobs {
          Solvers.proximalGrad(data, maxIter = iters, tol = 0.0)
        })
      data.unpersist()
      jobs
    }
    val small = jobsAt(500)
    val big = jobsAt(8000)
    for (solver <- small.keys)
      assert(small(solver) == big(solver),
        s"$solver jobs grew with n: ${small(solver)} @500 vs ${big(solver)} @8000")
  }

  test("clusterPairs per-round jobs are INDEPENDENT of edge count") {
    import spark.implicits._
    // Same diameter (4-node chains), 500x the edges as disjoint
    // id-shifted replicas: pointer jumping converges in the same number
    // of rounds (per-component structure identical; the decimal
    // label-sum probe is a global aggregate either way), so the job
    // count must be EXACTLY the chain-of-one count — any growth means
    // a hidden per-component or per-size action in the loop, which at
    // q87's 100 TB shape becomes a driver bottleneck no local timing
    // would surface.
    def jobsFor(replicas: Int): Int = {
      val pairs = (0 until replicas).flatMap { r =>
        val base = r * 10L
        Seq((base + 1, base + 2), (base + 2, base + 3), (base + 3, base + 4))
      }.toDF("id1", "id2")
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
      val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try countJobs {
        val out = graft.ops.Dedup.clusterPairs(pairs, localEdgeThreshold = 0L)
        assert(out.collect().nonEmpty)
        out.unpersist()
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
      }
    }
    val small = jobsFor(1)
    val big = jobsFor(500)
    assert(small == big,
      s"clusterPairs jobs grew with edge count: $small @1x vs $big @500x — " +
        "the propagation loop is no longer O(1) driver actions per round")
  }

  test("empty input raises a clear error") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("features", ArrayType(DoubleType)),
        StructField("label", DoubleType))))
    val e = intercept[IllegalArgumentException](GlmData.fromDF(empty))
    assert(e.getMessage.contains("empty dataset"))
  }
}

package perfbench

import java.io.{File, PrintWriter}

import breeze.linalg.DenseVector
import graft.core.GlmData
import graft.families.Logistic
import graft.linalg.Kernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** A per-layer metric, the end-to-end metric it should move and the
  * workload where it should move it. */
final case class LayerMetric(name: String, unit: String, better: String,
    moves: String, on: String)

object Layers {
  val Solvers = Seq("admm", "lbfgs", "newton", "gradient_descent", "proximal_grad")
  val SpanLayers = Seq("bench", "spark", "core", "linalg", "solvers", "estimators",
    "functions", "ops", "datasets")
  val CurationSteps = Seq("gopher", "exact", "minhash_candidates", "jaccard_verify",
    "keep_one", "semdedup", "classifier", "bpe_encode")

  private def m(name: String, unit: String, better: String, moves: String, on: String) =
    LayerMetric(name, unit, better, moves, on)

  val Catalogue: Seq[LayerMetric] =
    Seq(
      m("core.ingest_ms", "ms", "lower", "fit_s", "glm_estimator"),
      m("core.ingest_jobs", "count", "lower", "fit_s", "glm_estimator"),
      m("core.scan_bytes", "bytes", "lower", "fit_s", "glm_estimator"),
      m("core.repartition_shuffle_bytes", "bytes", "lower", "fit_s", "glm_estimator"),
      m("core.cached_mb", "MB", "lower", "cached_mb_peak", "glm_estimator"),
      m("linalg.lossGrad_ms", "ms", "lower", "fit_s", "glm_path"),
      m("linalg.gradHess_ms", "ms", "lower", "fit_s", "glm_path"),
      m("linalg.lossLadder_ms", "ms", "lower", "fit_s", "glm_path"),
      m("linalg.colStats_ms", "ms", "lower", "fit_s", "glm_path"),
      m("linalg.bytes_per_pass", "bytes", "lower", "fit_s", "glm_path"),
      m("linalg.gb_per_s", "GB/s", "higher", "fit_s", "glm_path"),
      m("linalg.flops_per_byte", "flop/byte", "higher", "fit_s", "glm_path"),
      m("linalg.parallel_speedup", "x", "higher", "fit_s", "glm_path")) ++
    Solvers.map(s => m(s"solvers.jobs.$s", "count", "lower", "fit_s", "glm_estimator")) ++
    Solvers.map(s => m(s"solvers.kernel_ms.$s", "ms", "lower", "fit_s", "glm_path")) ++
    Solvers.map(s => m(s"solvers.driver_ms.$s", "ms", "lower", "fit_s", "glm_estimator")) ++
    Seq(
      m("solvers.admm_iterations", "count", "lower", "fit_s", "glm_path"),
      m("solvers.admm_local_evals", "count", "lower", "fit_s", "glm_path"),
      m("estimators.fit_ms", "ms", "lower", "fit_s", "glm_estimator"),
      m("estimators.score_ms", "ms", "lower", "rows_per_s", "glm_estimator"),
      m("estimators.score_rows", "count", "higher", "rows_per_s", "glm_estimator"),
      m("estimators.score_rows_per_s", "1/s", "higher", "rows_per_s", "glm_estimator"),
      m("functions.array_dot_ns_per_row", "ns/row", "lower", "rows_per_s", "glm_estimator"),
      m("functions.minhash_sig_ns_per_row", "ns/row", "lower", "rows_per_s", "curation"),
      m("functions.ivf_cell_ns_per_row", "ns/row", "lower", "rows_per_s", "curation"),
      m("functions.gopher_stats_ns_per_row", "ns/row", "lower", "rows_per_s", "curation"),
      m("functions.bpe_encode_ns_per_row", "ns/row", "lower", "rows_per_s", "curation"),
      m("functions.noop_ns_per_row", "ns/row", "lower", "rows_per_s", "curation")) ++
    CurationSteps.map(s => m(s"ops.${s}_ms", "ms", "lower", "rows_per_s", "curation")) ++
    Seq(
      m("ops.minhash_candidates", "count", "lower", "rows_per_s", "curation"),
      m("ops.minhash_verified", "count", "higher", "rows_per_s", "curation"),
      m("ops.minhash_precision", "ratio", "higher", "rows_per_s", "curation"),
      m("ops.near_dup_recall", "ratio", "higher", "rows_per_s", "curation"),
      m("ops.semantic_recall", "ratio", "higher", "rows_per_s", "curation"),
      m("ops.cluster_edges", "count", "lower", "rows_per_s", "curation"),
      m("ops.cache_entries_left", "count", "lower", "cached_mb_peak", "curation"),
      m("datasets.hashed_bow_ms", "ms", "lower", "rows_per_s", "curation"),
      m("spark.jobs", "count", "lower", "fit_s", "glm_estimator"),
      m("spark.stages", "count", "lower", "cycle_s", "curation"),
      m("spark.tasks", "count", "lower", "cycle_s", "curation"),
      m("spark.tasks_failed", "count", "lower", "cycle_s", "curation"),
      m("spark.planning_ms", "ms", "lower", "cycle_s", "curation"),
      m("spark.executor_run_ms", "ms", "lower", "cycle_s", "curation"),
      m("spark.executor_cpu_ms", "ms", "lower", "cycle_s", "curation"),
      m("spark.gc_ms", "ms", "lower", "cycle_s", "glm_path"),
      m("spark.deserialize_ms", "ms", "lower", "cycle_s", "glm_estimator"),
      m("spark.scan_bytes", "bytes", "lower", "cycle_s", "glm_estimator"),
      m("spark.shuffle_write_bytes", "bytes", "lower", "cycle_s", "curation"),
      m("spark.shuffle_read_bytes", "bytes", "lower", "cycle_s", "curation"),
      m("spark.spill_bytes", "bytes", "lower", "cycle_s", "curation"),
      m("spark.serial_stage_ms", "ms", "lower", "cycle_s", "curation"),
      m("spark.driver_only_ms", "ms", "lower", "fit_s", "glm_estimator")) ++
    SpanLayers.map(l => m(s"self_ms.$l", "ms", "lower", "cycle_s", "all")) ++
    Seq(
      m("trace.overhead_cycle_pct", "%", "lower", "cycle_s", "all"),
      m("trace.overhead_fit_pct", "%", "lower", "fit_s", "all"))

  def rddMb(ctx: Ctx, rddId: Int): Double =
    ctx.spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId)
      .map(i => (i.memSize + i.diskSize) / (1024.0 * 1024.0)).sum

  private def timedMs(reps: Int)(body: => Unit): Double = {
    body // warm
    Stats.median((1 to reps).map(_ => Stats.time(body)._2 * 1000))
  }

  /** Direct kernel passes over a cached matrix: one pass each, median of
    * several, then the same loss+gradient pass on a single partition. */
  def linalgPasses(ctx: Ctx, data: GlmData, dense: Boolean): Unit = {
    val p = data.numFeatures
    val reps = if (ctx.tiny) 2 else 5
    val b = DenseVector.fill(p)(0.01)
    val dir = DenseVector.fill(p)(0.001)
    val steps = Array.tabulate(10)(k => math.pow(0.5, k))
    val (n, nnz) = data.rows.map(r => (1L, r._1.numActives.toLong))
      .fold((0L, 0L))((a, c) => (a._1 + c._1, a._2 + c._2))
    val lossGradMs = ctx.call("linalg", "lossGrad")(timedMs(reps)(Kernels.lossGrad(data, b, Logistic)))
    ctx.record("linalg.lossGrad_ms", lossGradMs)
    ctx.record("linalg.lossLadder_ms",
      ctx.call("linalg", "lossLadder")(timedMs(reps)(Kernels.lossLadder(data, b, dir, steps, Logistic))))
    if (dense) {
      ctx.record("linalg.gradHess_ms",
        ctx.call("linalg", "gradHess")(timedMs(3)(Kernels.gradHess(data, b, Logistic))))
      ctx.record("linalg.colStats_ms",
        ctx.call("linalg", "colStats")(timedMs(reps)(Kernels.colStats(data))))
    }
    // bytes a loss+gradient pass reads, computed from array sizes: 8 per
    // stored value (plus 4 per index when sparse) and 8 per label
    val bytes = if (dense) n * (8.0 * p + 8) else nnz * 12.0 + n * 8.0
    ctx.record("linalg.bytes_per_pass", bytes)
    ctx.record("linalg.gb_per_s", bytes / (lossGradMs / 1000) / 1e9)
    // a dot product and an axpy per stored value, from the same sizes
    ctx.record("linalg.flops_per_byte", 4.0 * nnz / bytes)
    val single = new GlmData(data.rows.coalesce(1), p, data.isSparse)
    val oneMs = ctx.call("linalg", "lossGrad.1thread")(timedMs(3)(Kernels.lossGrad(single, b, Logistic)))
    ctx.record("linalg.parallel_speedup", oneMs / lossGradMs)
  }

  /** ns per row of one native expression: a projection over cached input
    * into the no-op sink, median of several passes. */
  def functionPass(ctx: Ctx, input: DataFrame, name: String, expr: Column): Unit = {
    val cached = input.persist()
    val rows = cached.count().toDouble
    val reps = if (ctx.tiny) 2 else 5
    def sink(c: Column): Unit =
      cached.select(c.as("o")).write.format("noop").mode("overwrite").save()
    val baseline = timedMs(reps)(sink(col(cached.columns.head)))
    val ms = ctx.call("functions", name)(timedMs(reps)(sink(expr)))
    ctx.record(s"functions.${name}_ns_per_row", ms * 1e6 / rows)
    ctx.record("functions.noop_ns_per_row", baseline * 1e6 / rows)
    cached.unpersist()
  }

  private def perOp(recs: Seq[OpRecord])(f: OpSpark => Double): Double = {
    val xs = recs.flatMap(_.spark).map(f)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  /** Every per-layer metric of the catalogue; a layer the workload does
    * not exercise reads 0. */
  def report(ctx: Ctx, recs: Seq[OpRecord], loopSpans: Seq[Span],
      e2e: Seq[(String, Double, String)], te2e: Seq[(String, Double, String)])
      : Seq[(String, Double, String)] = {
    val v = scala.collection.mutable.Map.empty[String, Double]
    ctx.samples.foreach { case (k, xs) => v(k) = Stats.median(xs.toSeq) }
    val cycles = recs.map(_.cycle).distinct.size.max(1)

    // solvers: per cycle, summed over that solver's fits, median over cycles
    val fits = recs.filter(r => r.failure.isEmpty && r.res.fitSpark.nonEmpty)
    fits.groupBy(_.res.kind).foreach { case (s, rs) =>
      val perCycle = rs.groupBy(_.cycle).values.toSeq
      def med(f: OpRecord => Double) = Stats.median(perCycle.map(_.map(f).sum))
      v(s"solvers.jobs.$s") = med(_.res.fitSpark.get.jobs.toDouble)
      v(s"solvers.kernel_ms.$s") = med(_.res.fitSpark.get.jobUnionMs)
      v(s"solvers.driver_ms.$s") = med(r => r.res.fitS * 1000 - r.res.fitSpark.get.jobUnionMs)
    }
    val fitMs = loopSpans.filter(s => s.layer == "estimators" && s.name.startsWith("fit")).map(_.durMs)
    if (fitMs.nonEmpty) v("estimators.fit_ms") = Stats.median(fitMs)
    val scored = recs.filter(r => r.failure.isEmpty && r.res.scoreS > 0)
    if (scored.nonEmpty) {
      v("estimators.score_ms") = Stats.median(scored.map(_.res.scoreS * 1000))
      v("estimators.score_rows") = Stats.median(scored.map(_.res.scoreRows.toDouble))
      v("estimators.score_rows_per_s") = Stats.median(scored.map(r => r.res.scoreRows / r.res.scoreS))
    }
    v("ops.cache_entries_left") = recs.map(_.cacheLeft).sum.toDouble / recs.size.max(1)

    val sp = recs.filter(_.spark.nonEmpty)
    v("spark.jobs") = perOp(sp)(_.jobs.toDouble)
    v("spark.stages") = perOp(sp)(_.stages.toDouble)
    v("spark.tasks") = perOp(sp)(_.tasks.toDouble)
    v("spark.tasks_failed") = perOp(sp)(_.tasksFailed.toDouble)
    v("spark.planning_ms") = perOp(sp)(_.planningMs)
    v("spark.executor_run_ms") = perOp(sp)(_.executorRunMs)
    v("spark.executor_cpu_ms") = perOp(sp)(_.executorCpuMs)
    v("spark.gc_ms") = perOp(sp)(_.gcMs)
    v("spark.deserialize_ms") = perOp(sp)(_.deserializeMs)
    v("spark.scan_bytes") = perOp(sp)(_.scanBytes.toDouble)
    v("spark.shuffle_write_bytes") = perOp(sp)(_.shuffleWriteBytes.toDouble)
    v("spark.shuffle_read_bytes") = perOp(sp)(_.shuffleReadBytes.toDouble)
    v("spark.spill_bytes") = perOp(sp)(_.spillBytes.toDouble)
    v("spark.serial_stage_ms") = perOp(sp)(_.serialStageMs)
    v("spark.driver_only_ms") =
      if (sp.isEmpty) 0.0 else sp.map(r => r.wallS * 1000 - r.spark.get.jobUnionMs).sum / sp.size

    val self = selfMs(loopSpans)
    SpanLayers.foreach(l => v(s"self_ms.$l") = self.getOrElse(l, 0.0) / cycles)

    def get(xs: Seq[(String, Double, String)], k: String) = xs.find(_._1 == k).map(_._2).getOrElse(0.0)
    def pct(k: String) = {
      val u = get(e2e, k)
      if (u > 0) (get(te2e, k) - u) / u * 100 else 0.0
    }
    v("trace.overhead_cycle_pct") = pct("cycle_s")
    v("trace.overhead_fit_pct") = pct("fit_s")

    Catalogue.map(c => (c.name, v.getOrElse(c.name, 0.0), c.unit))
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.layer -> (s.durMs - Stats.unionLength(kids) / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The traced run's file: spans, the per-layer table with each metric's
    * pairing, and the end-to-end numbers with and without tracing. */
  def writeTrace(ctx: Ctx, out: File, workload: String, inputs: Seq[(String, Double)],
      recs: Seq[OpRecord],
      e2e: Seq[(String, Double, String)], te2e: Seq[(String, Double, String)],
      layer: Seq[(String, Double, String)]): Unit = {
    out.getParentFile.mkdirs()
    val spans = ctx.tracer.spans.toSeq
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    def e2eJson(xs: Seq[(String, Double, String)]) =
      Json.obj(xs.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val byName = Catalogue.map(c => c.name -> c).toMap
    val table = layer.map { case (n, v, u) =>
      val c = byName(n)
      Json.obj(Seq("name" -> Json.str(n), "value" -> Json.num(v), "unit" -> Json.str(u),
        "better" -> Json.str(c.better), "moves" -> Json.str(c.moves), "on" -> Json.str(c.on)))
    }
    val spanJson = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "end_ms" -> Json.num((s.endNs - t0) / 1e6)))
    }
    val ops = recs.map { r =>
      Json.obj(Seq("op" -> Json.str(r.op), "cycle" -> r.cycle.toString,
        "wall_s" -> Json.num(r.wallS), "ok" -> r.failure.isEmpty.toString,
        "jobs" -> Json.num(r.spark.map(_.jobs.toDouble).getOrElse(0.0)),
        "job_union_ms" -> Json.num(r.spark.map(_.jobUnionMs).getOrElse(0.0))))
    }
    val self = selfMs(spans)
    val w = new PrintWriter(out, "UTF-8")
    try w.println(Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "inputs" -> Json.obj(inputs.map { case (k, v) => k -> Json.num(v) }),
      "untraced" -> e2eJson(e2e), "traced" -> e2eJson(te2e),
      "self_ms_by_layer" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, x) => k -> Json.num(x) }),
      "per_layer" -> Json.arr(table), "ops" -> Json.arr(ops), "spans" -> Json.arr(spanJson))))
    finally w.close()
  }
}

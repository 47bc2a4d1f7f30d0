package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and size, the
  * tracer (a pass-through in the timed run) and, in the traced run only,
  * the Spark listener. Layer metrics a workload measures itself go to
  * `record`; the report takes the median of each name's samples. */
final class Ctx(val spark: SparkSession, val seed: Long, val tiny: Boolean,
    val workDir: File, val cores: Int) {
  var tracer = new Tracer(false)
  var probe: Option[Probe] = None
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def traced: Boolean = tracer.on

  def record(name: String, v: Double): Unit =
    if (traced) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** A call into one of the program's layers: a span in the traced run. */
  def call[T](layer: String, name: String)(body: => T): T = tracer(layer, name)(body)

  /** A call whose Spark activity is also wanted on its own (traced run);
    * in the timed run it is the bare call and the report is None. */
  def measured[T](layer: String, name: String)(body: => T): (T, Option[OpSpark]) =
    probe match {
      case Some(pr) if traced =>
        val (r, s) = pr.within(tracer(layer, name)(body))
        (r, Some(s))
      case _ => (body, None)
    }

  def dir(name: String): File = {
    val d = new File(workDir, name)
    d.mkdirs()
    d
  }
}

/** What one operation returned, timed by the loop; `check` runs after the
  * clock stops and returns a failure reason, or None. */
final case class OpResult(kind: String, fitS: Double, scoreS: Double,
    scoreRows: Long, rows: Long, check: () => Option[String],
    fitSpark: Option[OpSpark] = None)

trait Workload {
  /** Generate the inputs and build the program-side state. Repeated, so
    * it must rebuild from scratch. */
  def setup(): Unit
  /** Drop what `setup` built before the next repetition. */
  def release(): Unit
  /** Benchmark-side reference answers for the output checks (untimed). */
  def prepareChecks(): Unit
  /** The operations of one cycle, in order. */
  def cycle: IndexedSeq[String]
  def run(op: String): OpResult
  /** Rows the workload's inputs hold, and the directories they are in. */
  def inputRows: Long
  def inputDirs: Seq[File]
  /** Traced run only: per-layer passes that are not part of the cycle. */
  def layerPasses(): Unit
  /** Untimed cycles run before the clock starts. */
  def warmUpCycles: Int = 1
}

final case class OpRecord(op: String, cycle: Int, wallS: Double, res: OpResult,
    failure: Option[String], spark: Option[OpSpark], cacheLeft: Int)

object Main {
  val Workloads = Seq("glm_estimator", "glm_path", "curation")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, got '$workload'")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val tiny = opts.getOrElse("size", "full") == "tiny"
    val workDir = new File(opts.getOrElse("work-dir", ".bench_build/work")).getAbsoluteFile
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val (spark, sessionS) = Stats.time {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.default.parallelism", cores.toString)
        .config("spark.local.dir", new File(workDir, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val ctx = new Ctx(spark, seed, tiny, new File(workDir, s"$workload-$seed"), cores)
    val code =
      try {
        val wl: Workload = workload match {
          case "glm_estimator" => new GlmEstimatorWorkload(ctx)
          case "glm_path" => new GlmPathWorkload(ctx)
          case "curation" => new CurationWorkload(ctx)
        }
        val traceOut = new File(opts.getOrElse("trace-dir", ".bench_build/trace"),
          s"$workload-seed$seed.json").getAbsoluteFile
        runWorkload(ctx, wl, workload, seconds, trace, traceOut, sessionS)
      } finally {
        spark.stop()
        deleteTree(ctx.workDir)
      }
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def cacheEntries(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Iterable[_]].size
    } catch { case _: ReflectiveOperationException => if (cm.isEmpty) 0 else 1 }
  }

  /** Closed loop, one operation at a time: whole cycles until `seconds`
    * have passed (at least one). Every operation starts with an empty
    * cache manager; what it leaves behind is counted, then cleared. */
  private def loop(ctx: Ctx, wl: Workload, seconds: Double)
      : (Seq[OpRecord], Double) = {
    val spark = ctx.spark
    val peak = new StoragePeak(spark.sparkContext)
    val out = ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var c = 0
    try {
      while (c == 0 || elapsed < seconds) {
        wl.cycle.foreach { op =>
          spark.sharedState.cacheManager.clearCache()
          ctx.probe.foreach(_.push())
          val s = System.nanoTime()
          val res =
            try Right(ctx.call("bench", op)(wl.run(op)))
            catch { case e: Exception => Left(e) }
          val wall = (System.nanoTime() - s) / 1e9
          System.err.println(f"[perfbench]   cycle $c $op%-24s $wall%.3fs")
          val sp = ctx.probe.map(_.pop())
          val left = cacheEntries(spark)
          spark.sharedState.cacheManager.clearCache()
          res match {
            case Right(r) =>
              val failure =
                try r.check()
                catch { case e: Exception => Some(s"check threw $e") }
              failure.foreach(f => System.err.println(s"[perfbench] $op failed its check: $f"))
              out += OpRecord(op, c, wall, r, failure, sp, left)
            case Left(e) =>
              System.err.println(s"[perfbench] $op threw: $e")
              out += OpRecord(op, c, wall, OpResult(op, 0, 0, 0, 0, () => None),
                Some(e.toString), sp, left)
          }
        }
        c += 1
      }
    } finally peak.stop()
    (out.toSeq, peak.peakMb)
  }

  /** The end-to-end metrics of a loop, over the operations that passed. */
  private def endToEnd(recs: Seq[OpRecord], peakMb: Double, setupS: Double)
      : Seq[(String, Double, String)] = {
    val good = recs.filter(_.failure.isEmpty)
    val fullCycles = recs.groupBy(_.cycle).values.filter(_.forall(_.failure.isEmpty))
    val cycleS = if (fullCycles.isEmpty) 0.0 else Stats.median(fullCycles.map(_.map(_.wallS).sum).toSeq)
    val byKind = good.filter(_.res.fitS > 0).groupBy(_.res.kind)
    val fitS = if (byKind.isEmpty) 0.0 else Stats.geomean(byKind.values.map(rs => Stats.median(rs.map(_.res.fitS))).toSeq)
    val wall = good.map(_.wallS).sum
    val rowsPerS = if (wall > 0) good.map(_.res.rows).sum / wall else 0.0
    Seq(
      ("setup_s", setupS, "s"),
      ("cycle_s", cycleS, "s"),
      ("fit_s", fitS, "s"),
      ("rows_per_s", rowsPerS, "1/s"),
      ("cached_mb_peak", peakMb, "MB"))
  }

  private def runWorkload(ctx: Ctx, wl: Workload, name: String, seconds: Double,
      trace: Boolean, traceOut: File, sessionS: Double): Int = {
    val reps = if (ctx.tiny) 1 else 3
    val setupTimes = (0 until reps).map { r =>
      if (r > 0) wl.release()
      Stats.time(wl.setup())._2
    }
    // warm-up cycles, so every operation's code paths are compiled
    // before the clock starts
    val (_, warmS) = Stats.time((1 to wl.warmUpCycles).foreach(_ => wl.cycle.foreach { op =>
      wl.run(op)
      ctx.spark.sharedState.cacheManager.clearCache()
    }))
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    System.err.println(f"[perfbench] $name seed=${ctx.seed} session ${sessionS}%.2fs, " +
      f"set-up ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, warm-up $warmS%.2fs")
    val (_, checkS) = Stats.time(wl.prepareChecks())
    System.err.println(f"[perfbench] reference answers for the checks took $checkS%.2fs")

    val (recs, peakMb) = loop(ctx, wl, seconds)
    val e2e = endToEnd(recs, peakMb, setupS)
    val files = wl.inputDirs.flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    val storageMb = ctx.spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    val inputs = Seq("rows" -> wl.inputRows.toDouble, "files" -> files.size.toDouble,
      "bytes" -> files.map(_.length).sum.toDouble, "cached_mb_peak" -> peakMb,
      "storage_memory_mb" -> storageMb)
    System.err.println("[perfbench] inputs: " +
      inputs.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
    val (metrics: Seq[(String, Double, String)], checked: Seq[OpRecord]) =
      if (!trace) (e2e, recs)
      else {
        ctx.tracer = new Tracer(true)
        val probe = new Probe(ctx.spark)
        ctx.probe = Some(probe)
        val (trecs, tpeak) = loop(ctx, wl, seconds)
        val te2e = endToEnd(trecs, tpeak, setupS)
        val loopSpans = ctx.tracer.spans.toSeq
        wl.layerPasses()
        probe.close()
        val layer = Layers.report(ctx, trecs, loopSpans, e2e, te2e)
        Layers.writeTrace(ctx, traceOut, name, inputs, trecs, e2e, te2e, layer)
        System.err.println(s"[perfbench] trace written to $traceOut")
        (layer, recs ++ trecs)
      }
    val failed = checked.count(_.failure.nonEmpty)
    recs.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      System.err.println(f"[perfbench]   $op%-28s n=${rs.size} wall median ${Stats.median(rs.map(_.wallS))}%.3fs")
    }
    e2e.foreach { case (n, v, u) => System.err.println(f"[perfbench] $n = $v%.4f $u") }
    val line = Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> checked.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
    if (failed == 0) 0 else 1
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `parent` is the id of the enclosing span
  * (-1 for an operation's root), times are System.nanoTime readings. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. When `on` is false every call is a
  * plain pass-through: the timed run records nothing. Spans stay in
  * memory and are written out once, at the end of the run. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
      }
    }
}

/** What Spark reported for one operation. Wall-clock times are epoch
  * milliseconds, as the listener events carry them. */
final class OpSpark {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var planningMs = 0.0
  var executorRunMs = 0.0
  var executorCpuMs = 0.0
  var gcMs = 0.0
  var deserializeMs = 0.0
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var serialStageMs = 0.0
  val jobSpans = ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds during which at least one Spark job of the operation ran. */
  def jobUnionMs: Double = Stats.unionLength(jobSpans.toSeq).toDouble
}

/** Listener installed only in the traced run. Events are attributed to
  * every bucket open when they arrive; buckets nest, so an operation and
  * a single layer call inside it are counted from the same stream. `push`
  * and `pop` drain the listener bus first, so every event posted inside a
  * bucket is counted before it closes. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var open: List[OpSpark] = Nil
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def push(): OpSpark = {
    Bus.drain(spark.sparkContext)
    val b = new OpSpark
    open = b :: open
    b
  }

  def pop(): OpSpark = {
    Bus.drain(spark.sparkContext)
    val b = open.head
    open = open.tail
    b
  }

  def within[T](body: => T): (T, OpSpark) = {
    push()
    val r = try body catch { case e: Throwable => pop(); throw e }
    (r, pop())
  }

  def close(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    open.foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId).getOrElse(e.time)
    open.foreach(_.jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val dur = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a)
      .getOrElse(0L).toDouble
    val m = info.taskMetrics
    open.foreach { c =>
      c.stages += 1
      c.tasks += info.numTasks
      if (info.numTasks == 1) c.serialStageMs = math.max(c.serialStageMs, dur)
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.deserializeMs += m.executorDeserializeTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) open.foreach(_.tasksFailed += 1)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    open.foreach(_.planningMs += ms)
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

/** Polls block-manager storage memory every 50 ms while the timed
  * operations run and keeps the peak level held across four consecutive
  * polls (200 ms), so a block that lives only until an asynchronous
  * unpersist catches up does not decide the figure. Reads the block
  * manager's own bookkeeping: no Spark job, no listener. */
final class StoragePeak(sc: SparkContext) {
  private val PeriodMs = 50L
  private val Sustain = 4
  @volatile private var peak = 0L
  @volatile private var running = true

  def usedBytes: Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  private val thread = new Thread(() => {
    val recent = scala.collection.mutable.Queue.fill(Sustain)(usedBytes)
    while (running) {
      Thread.sleep(PeriodMs)
      recent.dequeue()
      recent.enqueue(usedBytes)
      peak = math.max(peak, recent.min)
    }
  }, "perfbench-storage-peak")
  thread.setDaemon(true)
  thread.start()

  def peakMb: Double = peak / (1024.0 * 1024.0)

  def stop(): Unit = { running = false; thread.join() }
}

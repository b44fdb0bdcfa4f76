package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A harness span: a named interval around one call into a layer.
  * Times are epoch milliseconds (fractional), the clock Spark's
  * listener events use, so spans and events line up. */
final case class Span(id: Int, name: String, op: Int, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans held in memory until the run ends. Calls may come from the
  * operation's worker thread, so recording is synchronized. */
final class Spans {
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = epochOffsetMs + System.nanoTime() / 1e6
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def open(): Int = synchronized { nextId += 1; nextId }
  def close(id: Int, name: String, op: Int, parent: Int, start: Double): Span = synchronized {
    val s = Span(id, name, op, parent, start, nowMs())
    buf += s
    s
  }
  def span[A](name: String, op: Int, parent: Int)(body: => A): A = {
    val id = open()
    val t0 = nowMs()
    try body finally close(id, name, op, parent, t0)
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Engine counters of one operation: everything the listener saw for
  * jobs run under the operation's job group. */
final class OpCounters {
  var sqlExecutions = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecutionBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val stageIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Listener that keys Spark's events by the job group the harness sets
  * for each operation (`op-<n>`). Planning phases arrive without a job
  * group, so they are given to the operation whose span holds their end
  * time; operations never overlap in a closed loop. All callbacks run on
  * the listener bus thread; results are read after the bus is drained.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val ops = mutable.Map.empty[Int, OpCounters]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Double)]
  val planning = mutable.ArrayBuffer.empty[(Double, Double)] // (end ms, planning ms)
  var unattributedJobs = 0L

  private def opOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("op-")).flatMap(_.drop(3).toIntOption)
  private def counters(op: Int) = ops.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties.getProperty("spark.jobGroup.id")) match {
      case Some(op) =>
        counters(op).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
        jobOp(e.jobId) = (op, e.time.toDouble)
      case None => unattributedJobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      counters(op).jobIntervals += ((t0, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val c = counters(op)
      c.stages += 1
      for (s <- info.submissionTime; f <- info.completionTime)
        c.stageIntervals += ((s.toDouble, f.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(op)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecutionBytes = c.peakExecutionBytes.max(m.peakExecutionMemory)
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.flatMap(opOf).foreach(counters(_).sqlExecutions += 1)
    case _ => ()
  }

  private def recordPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planning += ((phases.map(_.endTimeMs).max.toDouble, phases.map(_.durationMs).sum.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)
}

object LayerListener {
  def attach(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Samples the block manager while traced passes run: bytes held by
  * persisted and checkpointed RDDs, and how many are held at once. */
final class StorageSampler(sc: SparkContext) extends Thread("perfbench-storage-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakBytes = 0L
  @volatile var peakRdds = 0L
  override def run(): Unit = while (running) {
    try {
      val infos = sc.getRDDStorageInfo
      peakBytes = peakBytes.max(infos.map(i => i.memSize + i.diskSize).sum)
      peakRdds = peakRdds.max(sc.getPersistentRDDs.size.toLong)
    } catch { case _: Exception => () }
    Thread.sleep(50)
  }
  def finish(): Unit = { running = false; join() }
}

/** Interval arithmetic for the span and event summaries. */
object Intervals {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def union(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}

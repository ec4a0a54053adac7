package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced op, split into layers. The layer times are disjoint and sum
  * to `wallMs`: each millisecond of the op belongs to the innermost span
  * covering it, in the order Spark job > physical planning > optimization >
  * analysis, and what no span covers is driver self time. */
final case class OpTrace(
    kind: String,
    wallMs: Double,
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    execMs: Double,
    driverMs: Double,
    jobs: Long,
    tasks: Long,
    taskRunMs: Long,
    taskCpuMs: Double,
    rowsRead: Long,
    bytesRead: Long,
    shuffleBytes: Long,
    bytesWritten: Long)

/** Spans and counters from Spark's own listeners, recorded from outside
  * the engine: `QueryExecutionListener` for the planning phases of every
  * query an op runs (`qe.tracker`), `SparkListener` for its jobs and task
  * metrics. Spans stay in memory until `spansJson` writes them out. */
final class Tracer(spark: SparkSession) {
  private case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()
  private var tasks, taskRunMs, taskCpuNs, rowsRead, bytesRead, shuffleBytes, bytesWritten = 0L

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      tasks += 1
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        rowsRead += m.inputMetrics.recordsRead
        bytesRead += m.inputMetrics.bytesRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Starts listening; call right before the op. */
  def attach(): Unit = {
    synchronized {
      phases.clear(); jobStarts.clear(); jobs.clear()
      tasks = 0; taskRunMs = 0; taskCpuNs = 0; rowsRead = 0; bytesRead = 0; shuffleBytes = 0; bytesWritten = 0
    }
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(jobListener)
  }

  /** Waits for the op's events, stops listening and splits the op. */
  def detach(kind: String, startMs: Long, endMs: Long, wallMs: Double): OpTrace = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(jobListener)
    synchronized {
      val opId = newSpan(0L, kind, startMs, endMs)
      phases.foreach { case (n, s, e) => newSpan(opId, s"plan.$n", s, e) }
      jobs.foreach { case (s, e) => newSpan(opId, "exec.job", s, e) }
      val ranked = Seq("analysis" -> 1, "optimization" -> 2, "planning" -> 3)
      val painted = Tracer.paint(startMs, endMs,
        ranked.flatMap { case (n, rank) => phases.collect { case (`n`, s, e) => (rank, s, e) } } ++
          jobs.map { case (s, e) => (4, s, e) })
      val covered = painted.sum
      OpTrace(kind, wallMs, painted(1), painted(2), painted(3), painted(4),
        math.max(0.0, wallMs - covered), jobs.size, tasks, taskRunMs, taskCpuNs / 1e6,
        rowsRead, bytesRead, shuffleBytes, bytesWritten)
    }
  }

  private def newSpan(parent: Long, name: String, s: Long, e: Long): Long = {
    nextId += 1
    spans += Span(nextId, parent, name, s, e)
    nextId
  }

  def spansJson: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
}

/** Input rows of the Spark tasks that end while counting is on; the
  * one listener of an untraced run. */
final class ReadCounter(spark: SparkSession) extends SparkListener {
  private val rows = new java.util.concurrent.atomic.AtomicLong
  @volatile private var counting = true

  PerfbenchBridge.drainListeners(spark.sparkContext)
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (counting && e.taskMetrics != null) rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

  /** Turns counting on or off once every pending event is in. */
  def count(on: Boolean): Unit = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    counting = on
  }

  def total: Long = rows.get

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Tracer {
  /** Milliseconds of [startMs, endMs) owned by each rank (index 1..4): a
    * millisecond belongs to the highest rank whose interval covers it. */
  def paint(startMs: Long, endMs: Long, intervals: Seq[(Int, Long, Long)]): Array[Double] = {
    val n = math.max(0L, endMs - startMs).toInt
    val owner = new Array[Byte](n)
    intervals.sortBy(_._1).foreach { case (rank, s, e) =>
      var i = math.max(0L, s - startMs).toInt
      val hi = math.min(n.toLong, e - startMs).toInt
      while (i < hi) { owner(i) = rank.toByte; i += 1 }
    }
    val out = new Array[Double](5)
    owner.foreach(r => if (r > 0) out(r) += 1.0)
    out
  }
}

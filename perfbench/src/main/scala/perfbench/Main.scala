package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** A timed op: `run` executes it and returns its output check, which the
  * harness calls right after the op, off the clock. `probe`, called only
  * in the traced run and also off the clock, takes the per-layer readings
  * that need the state right after the op; it gets the op's trace when the
  * op was traced. */
final class Op(
    val kind: String,
    val label: String,
    val run: () => (() => Boolean),
    val probe: Option[OpTrace] => Unit = _ => ())

/** One workload: seeded inputs, a setup that builds its state from
  * nothing, and a seeded closed-loop op sequence. */
abstract class Workload {
  /** Builds every table, view and corpus the loop needs, under `dir`. */
  def setup(spark: SparkSession, dir: String): Unit

  /** The next op of the seeded sequence. */
  def next(): Op

  /** Ops per cycle of the sequence; each cycle has the same mix of op
    * kinds, and the loop only stops at a cycle's end. */
  def cycleLength: Int

  /** Whole cycles run untimed, but checked, before the loop: they pay the
    * first-use costs (class loading, JIT compilation, code generation,
    * caches, staged indexes) that a long-running service pays once. A
    * count, not a time, so every run starts its loop from the same state. */
  def warmCycles: Int

  /** Whole-state checks after the loop; false counts one failed op. */
  def finalCheck(): Boolean = true

  /** Per-layer readings measured from outside the engine, given the
    * traced ops and the (kind, ms) of every timed op. */
  def layers(traces: Seq[OpTrace], ops: Seq[(String, Double)]): Map[String, Double] = Map.empty

  /** Op kinds whose median latency the report prints. */
  def classes: Seq[String]

  /** Warehouse or staging directory whose size the report tracks. */
  def dataDirs: Seq[String]

  /** Whether the workload registers the `graft_cat` snapshot catalog. */
  def usesCatalog: Boolean = true
}

object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("root"), m("out"))
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "lakehouse"          => new Lakehouse(seed)
    case "operator_inventory" => new OperatorInventory(seed)
    case other                => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val root = new File(args.root)
    val leftover = Option(root.list()).map(_.toSeq).getOrElse(Nil)
    require(root.isDirectory && leftover.isEmpty,
      s"per-run root ${args.root} must exist and be empty, found: ${leftover.take(5).mkString(", ")}")
    new File(sys.props("java.io.tmpdir")).mkdirs()
    val result = try run(args, workload(args.workload, args.seed))
    finally SparkSession.getActiveSession.foreach(_.stop())
    println(result)
  }

  /** Sets `w` up, runs its loop and returns the result line. `afterSetup`
    * lets a test corrupt the harness's expected values. */
  def run(args: Args, w: Workload, afterSetup: Workload => Unit = _ => ()): String = {
    // Set up from nothing SetupReps times, each in a fresh session and
    // directory; the last one serves the loop. setup_s is their median.
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val dir = s"${args.root}/rep$rep"
      if (rep > 1) Files.deleteTree(new File(s"${args.root}/rep${rep - 1}"))
      val t0 = System.nanoTime()
      spark = Session.start(args.root, dir, w.usesCatalog)
      w.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    afterSetup(w)
    var thrown, failedChecks = 0
    def execute(op: Op): (Option[() => Boolean], Double) = {
      val t0 = System.nanoTime()
      val check = try Some(op.run()) catch {
        case e: Throwable =>
          System.err.println(s"op ${op.kind} threw: ${e.getMessage}")
          None
      }
      (check, (System.nanoTime() - t0) / 1e6)
    }
    def verify(kind: String, check: Option[() => Boolean]): Unit = check match {
      case Some(c) => if (!runCheck(kind, c)) failedChecks += 1
      case None    => thrown += 1
    }
    val warmT0 = System.nanoTime()
    // Rows read are counted over the warm-up and the first timed cycle,
    // with the output checks and probes left out.
    val reads = new ReadCounter(spark)
    val warmed = w.warmCycles * w.cycleLength
    (1 to warmed).foreach { _ =>
      val op = w.next()
      val check = execute(op)._1
      reads.count(on = false)
      verify(op.kind, check)
      reads.count(on = true)
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val gcBean = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBean.map(_.getCollectionTime).sum
    val anchors = mutable.ArrayBuffer(Anchor.cpu())
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val coin = new Rng(args.seed).fork("trace")
    val traces = mutable.ArrayBuffer[OpTrace]()
    val lat = mutable.ArrayBuffer[(String, Double, Boolean)]() // kind, ms, traced
    var paused = 0L
    // Memory, disk and rows read are read once, at the end of the first
    // timed cycle: after a fixed amount of work, whatever the machine's speed.
    var heapMb, diskMb = 0.0
    var rowsRead = 0L
    def footprint(): Unit = {
      diskMb = w.dataDirs.map(d => Files.usage(new File(d))._2).sum / 1048576.0
      heapMb = Machine.retainedHeapMb(spark)
      rowsRead = reads.total
    }
    def dataFiles() = w.dataDirs.map(d => Files.usage(new File(d))._1).sum
    var lastFiles = if (tracer.isDefined) dataFiles() else 0L
    var filesWritten = 0L
    val gc0 = gcMs
    val steal0 = Machine.cpuTicks()
    val loopStart = System.nanoTime()
    val deadline = loopStart + args.seconds * 1000000000L
    var midAnchorDone = false
    while (System.nanoTime() < deadline || lat.size % w.cycleLength != 0) {
      if (!midAnchorDone && System.nanoTime() > loopStart + (deadline - loopStart) / 2) {
        val a0 = System.nanoTime()
        anchors += Anchor.cpu(); midAnchorDone = true
        paused += System.nanoTime() - a0
      }
      val op = w.next()
      val traced = tracer.isDefined && coin.nextInt(2) == 1
      if (traced) tracer.get.attach()
      val startMs = System.currentTimeMillis()
      val (check, ms) = execute(op)
      val pause0 = System.nanoTime()
      reads.count(on = false)
      val trace = if (traced) Some(tracer.get.detach(op.kind, startMs, System.currentTimeMillis(), ms)) else None
      trace.foreach(traces += _)
      if (tracer.isDefined) {
        op.probe(trace)
        val files = dataFiles()
        if (traced) filesWritten += math.max(0L, files - lastFiles)
        lastFiles = files
      }
      verify(op.kind, check)
      lat += ((op.kind, ms, traced))
      if (lat.size == w.cycleLength) footprint()
      reads.count(on = true)
      paused += System.nanoTime() - pause0
    }
    reads.close()
    val loopS = (System.nanoTime() - loopStart - paused) / 1e9
    val stealRatio = Machine.stealRatio(steal0, Machine.cpuTicks())
    val gcLoopMs = gcMs - gc0
    anchors += Anchor.cpu()
    val finalOk = try w.finalCheck() catch { case e: Throwable => System.err.println(s"final check threw: $e"); false }
    val attempted = warmed + lat.size + 1
    val failed = thrown + failedChecks + (if (finalOk) 0 else 1)

    val untraced = lat.filterNot(_._3).map(_._2).toIndexedSeq
    val all = lat.map(_._2).toIndexedSeq
    // Gated: set-up time and what a fixed amount of work costs in memory,
    // disk and rows read. Only set-up time is a time, and its median is gated,
    // not its spread.
    val e2e = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("heap_mb", heapMb, "MiB"),
      ("disk_mb", diskMb, "MiB"),
      ("rows_read_per_op", rowsRead.toDouble / (warmed + w.cycleLength), "count"))
    // Reported, not gated: the shared host's speed swings by a sixth
    // within a minute, and by more between minutes, on a fixed CPU loop
    // alone, so latencies and throughput spread between runs by about the
    // largest bound a gated metric may have.
    val timing = Seq(("op_p50_ms", Stats.pct(all, 50), "ms"), ("op_p75_ms", Stats.pct(all, 75), "ms"),
      ("ops_per_s", lat.size / loopS, "1/s"))
    val classes = w.classes.map { c =>
      (s"${c}_p50_ms", Stats.pct(lat.filter(_._1 == c).map(_._2).toIndexedSeq, 50), "ms")
    }
    val report = mutable.ArrayBuffer[String]()
    report += f"workload ${args.workload} seed ${args.seed} trace ${if (args.trace) 1 else 0}: " +
      f"${lat.size} ops in $loopS%.2f s after $warmed warm-up ops in $warmS%.2f s, " +
      f"setup reps ${setupTimes.map(t => f"$t%.2f").mkString("/")} s"
    report += "  cycle seconds " + lat.grouped(w.cycleLength).map(c => f"${c.map(_._2).sum / 1000}%.2f").mkString(" ")
    (e2e ++ timing ++ classes ++ Seq(("error_rate", failed.toDouble / attempted, "ratio"),
      ("machine.cpu_anchor_s", Stats.median(anchors.toIndexedSeq), "s"), ("machine.steal_ratio", stealRatio, "ratio")))
      .foreach { case (n, v, u) => report += f"  $n%-28s $v%12.4f $u" }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e
      else {
        val stage = new File(graft.Stage.root)
        val traced = traces.size.max(1)
        val layerValues = Layers.fromTraces(traces.toSeq) ++
          w.layers(traces.toSeq, lat.map { case (k, ms, _) => (k, ms) }.toSeq) ++ Map(
          "spark.exec.files_written" -> filesWritten.toDouble / traced,
          "Stage.builds" -> Option(stage.listFiles()).map(_.count(_.isDirectory)).getOrElse(0).toDouble,
          "Stage.bytes" -> Files.usage(stage)._2.toDouble,
          "jvm.gc_ms" -> gcLoopMs.toDouble,
          "machine.cpu_anchor_s" -> Stats.median(anchors.toIndexedSeq),
          "trace.overhead_ratio" -> Stats.pct(lat.filter(_._3).map(_._2).toIndexedSeq, 50) /
            Stats.pct(untraced, 50))
        report ++= Layers.table(traces.toSeq)
        Layers.Names.map { case (n, u) => (n, layerValues.getOrElse(n, 0.0), u) }
      }
    report.foreach(println)
    tracer.foreach { t =>
      val out = new java.io.PrintWriter(args.out)
      try t.spansJson.foreach(out.println) finally out.close()
      println(s"  spans written to ${args.out}")
    }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  private def runCheck(kind: String, c: () => Boolean): Boolean = {
    val ok = try c() catch { case e: Throwable => System.err.println(s"check of $kind threw: $e"); false }
    if (!ok) System.err.println(s"op $kind failed its output check")
    ok
  }
}

object Machine {
  /** Heap still in use after full collections. Each collection lets
    * Spark's cleaner drop broadcasts and shuffles found unreachable, which
    * frees more in the next; one pass left up to 16 MiB that a later one
    * freed, depending on the order of the ops. So collect until the
    * reading holds still. */
  def retainedHeapMb(spark: SparkSession): Double = {
    def used() = {
      System.gc()
      Thread.sleep(250)
      PerfbenchBridge.drainListeners(spark.sparkContext)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, now, rounds) = (Double.MaxValue, used(), 1)
    while (rounds < 8 && last - now > 0.25) { last = now; now = used(); rounds += 1 }
    now
  }

  /** The host's aggregate CPU tick counters (/proc/stat), empty where
    * there are none. */
  def cpuTicks(): Seq[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq finally src.close()
  } catch { case _: Exception => Nil }

  /** Share of CPU ticks between two readings that the hypervisor gave to
    * other guests (steal, the eighth counter). */
  def stealRatio(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }.take(8)
      if (d.sum == 0) 0.0 else d(7).toDouble / d.sum
    }
}

object Anchor {
  @volatile private var sink = 0L

  /** Fixed-work CPU loop; its wall time tells machine speed apart from
    * the program's. Reported, never used to normalize other metrics. */
  def cpu(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 50000000L) { h ^= i; h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33); i += 1 }
    sink = h
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  /** Linear-interpolated percentile, 0 for an empty sample. */
  def pct(xs: IndexedSeq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: IndexedSeq[Double]): Double = pct(xs, 50)


  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

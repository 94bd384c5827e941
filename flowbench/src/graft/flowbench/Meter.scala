package graft.flowbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tools.{BenchTrace, BenchTraceListener, JvmCounters}

/** Timing and attribution for one benchmark run.
  *
  * `phase` wraps a segment: it labels the Spark jobs it submits
  * (the `graft.bench.label` local property that [[BenchTraceListener]]
  * reads), and adds the segment's wall and process-CPU time to the run's
  * totals. Work between phases (input generation, checks) is neither
  * timed nor counted. `span` times one call into a library layer from
  * the benchmark's side; spans are plain clock reads, so they run in
  * untraced runs too. The heap peak is the largest live heap (heap pools
  * only) after the full collections [[settle]] forces between timed
  * operations.
  */
final class Meter(spark: SparkSession, val traced: Boolean) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var wallS = 0.0
  var cpuS = 0.0

  private val listener = if (traced) Some(new BenchTraceListener) else None

  private var peakHeapB = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def peakHeapMb: Double = peakHeapB / 1048576.0

  /** How many operations to run for `n` measured ones, and which are
    * traced: a traced run runs at least twice as many, in whole blocks of
    * four, and traces them in untraced-traced-traced-untraced order, so
    * both halves sit at the same average point of the JVM's warm-up and
    * the difference of their totals is the tracing overhead.
    */
  def opCount(n: Int): Int = if (traced) 4 * ((n + 1) / 2) else n
  def tracedOp(i: Int): Boolean = traced && (i + 1) / 2 % 2 == 1

  /** Run `body` with the stage listener attached when `on`; its queued
    * events are delivered before it is detached.
    */
  def withTracing[A](on: Boolean)(body: => A): A = listener match {
    case Some(l) if on =>
      spark.sparkContext.addSparkListener(l)
      try body finally {
        org.apache.spark.FlowBenchBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    case _ => body
  }

  /** One operation's latency, filed by whether it was traced. */
  def addOp(on: Boolean, t: Double): Unit = {
    add("op_s", t)
    if (traced) add(if (on) "trace.on_s" else "trace.off_s", t)
  }

  /** A labelled segment; `measured = false` attributes its Spark stages
    * without adding it to the run's wall and CPU figures.
    */
  def phase[A](label: String, measured: Boolean = true)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(BenchTrace.LabelProp, label)
    listener.foreach(_.setLabel(label))
    val c0 = JvmCounters.cpuSec()
    val t0 = System.nanoTime()
    try body
    finally {
      if (measured) {
        wallS += (System.nanoTime() - t0) / 1e9
        cpuS += JvmCounters.cpuSec() - c0
      }
      sc.setLocalProperty(BenchTrace.LabelProp, "_setup")
      listener.foreach(_.setLabel("_setup"))
    }
  }

  /** A full collection between timed operations, outside the timed
    * window; the live heap it leaves counts toward the peak. Flows settle
    * before each operation and once after the last, so every operation
    * starts from the live heap, and the peak is what the library still
    * holds after an operation. (After-GC figures taken inside an
    * operation would depend on whether the collector happened to run
    * there: with a 3 GiB heap one operation may or may not fill eden.)
    */
  def settle(): Unit = {
    System.gc()
    peakHeapB = math.max(peakHeapB, heapPools.map(_.getUsage.getUsed).sum)
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  def all(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double = Meter.quantile(all(name), 0.5)
  def total(name: String): Double = all(name).sum
  def n(name: String): Int = all(name).size
  def counted(name: String): Double = counts.getOrElse(name, 0.0)

  /** Spark task totals per phase label, from the trace listener. */
  def sparkPhases(phases: Seq[String]): Seq[(String, Double)] = listener match {
    case None => Nil
    case Some(l) =>
      val (byLabel, _) = l.snapshot()
      val mb = 1048576.0
      phases.flatMap { p =>
        val st = byLabel.getOrElse(p, Nil)
        Seq(
          s"spark.$p.stages" -> st.size.toDouble,
          s"spark.$p.tasks" -> st.map(_.tasks).sum.toDouble,
          s"spark.$p.task_cpu_s" -> st.map(_.cpuMs).sum / 1000.0,
          s"spark.$p.gc_s" -> st.map(_.gcMs).sum / 1000.0,
          s"spark.$p.shuffle_write_mb" -> st.map(_.shufWriteB).sum / mb,
          s"spark.$p.input_mb" -> st.map(_.inputB).sum / mb,
          s"spark.$p.spill_mb" -> st.map(s => s.spillMemB + s.spillDiskB).sum / mb)
      }
  }
}

object Meter {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method); 0 for an empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

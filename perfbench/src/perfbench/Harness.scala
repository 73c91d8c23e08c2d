package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run shares: the session, its inputs' seed, the
  * run-scoped scratch directory, the tracer (traced runs only) and the
  * verdict that collects failed checks. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val work: Path, val tracer: Option[Tracer], val mainEntryNs: Long) {
  val verdict = new Checks.Verdict
  private var offClockNs = 0L

  /** Harness work before the measured phase that a user would not do
    * (generating inputs, computing reference figures): excluded from
    * `setup_s`. */
  def offClock[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally offClockNs += System.nanoTime() - t
  }

  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  /** Forces a frame through the `noop` sink: every row is computed, none kept. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Repeats `op` for `seconds` of wall time, and at least `minOps`
    * times, logging the JIT compile time each repetition adds. The span
    * is fixed rather than "until the JIT is quiet": in these short-lived
    * JVMs HotSpot is still compiling Spark when the run ends, and a
    * stop-when-quiet rule only made the JIT's progress at the start of
    * the measured phase differ from run to run. */
  def warmUp(minOps: Int, seconds: Int)(op: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    while (i < minOps || System.nanoTime() - start < seconds * 1000000000L) {
      val j0 = Jvm.jitMs
      val t0 = System.nanoTime()
      try op(i) catch { case e: Exception => Console.err.println(s"warm-up operation $i failed: $e") }
      Console.err.println(f"warm-up $i: ${(System.nanoTime() - t0) / 1e6}%.0f ms, JIT +${Jvm.jitMs - j0} ms")
      i += 1
    }
  }

  /** The measured phase: operations back to back (a closed loop with one
    * client) until `seconds` have passed, at least `minOps` of them.
    * `prepare(i)` runs untimed before operation `i` (input generation),
    * `op(i)` is timed and returns the input rows it processed, and
    * `check(i)` runs untimed after it. The heap is probed after every
    * `heldEvery`-th operation. */
  def measure(minOps: Int, heldEvery: Int)(prepare: Int => Unit)(op: Int => Long)(
      check: Int => Unit): Measured = {
    val m = new Measured(System.nanoTime() - mainEntryNs - offClockNs)
    tracer.foreach(_.begin())
    val start = System.nanoTime()
    var i = 0
    while (i < minOps || System.nanoTime() - start < seconds * 1000000000L) {
      prepare(i)
      val (c0, g0, j0) = (Jvm.appCpu(), Jvm.gcMs, Jvm.jitMs)
      val t0 = System.nanoTime()
      val rows = try op(i) catch {
        case e: Exception => Console.err.println(s"operation $i failed: $e"); -1L
      }
      val t1 = System.nanoTime()
      m.cpuNs += Jvm.appCpuSince(c0)
      m.gcMs += Jvm.gcMs - g0
      m.jitMs += Jvm.jitMs - j0
      m.opNs += t1 - t0
      m.attempted += 1
      if (rows < 0) m.failed += 1
      else {
        m.rows += rows
        m.latenciesMs += (t1 - t0) / 1e6
        tracer.foreach(_.pause())
        try check(i) catch { case e: Exception => verdict.add(Some(s"check of operation $i threw $e")) }
        tracer.foreach(_.resume())
      }
      i += 1
      if (i % heldEvery == 0) m.peakHeldMb = math.max(m.peakHeldMb, Jvm.heldMb())
    }
    tracer.foreach(_.end())
    m.peakHeldMb = math.max(m.peakHeldMb, Jvm.heldMb())
    m
  }
}

/** Figures of one measured phase. */
final class Measured(setupNs: Long) {
  var attempted = 0
  var failed = 0
  var rows = 0L
  var opNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var jitMs = 0L
  var peakHeldMb = 0.0
  val latenciesMs = ArrayBuffer.empty[Double]

  def median: Double = Measured.median(latenciesMs.toSeq)

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest latency) once a run has 40 or more samples. With fewer,
    * that percentile would be no tail, and this is the median. */
  def tail: Double = {
    val s = latenciesMs.sorted
    if (s.size < 40) median else s(s.size - 11)
  }

  /** The end-to-end metrics, as (name, value, unit). */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupNs / 1e9, "s"),
    ("throughput_rows_per_s", rows / (opNs / 1e9), "rows/s"),
    ("latency_p50_ms", median, "ms"),
    ("latency_tail_ms", tail, "ms"),
    ("cpu_s_per_mrow", (cpuNs / 1e9) / (rows / 1e6), "s/Mrow"),
    ("peak_held_mb", peakHeldMb, "MiB"))
}

object Measured {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for a traced run, built only from Spark's own
  * listeners and from spans the workloads put around each public call.
  * Nothing in the library is instrumented.
  *
  *  - `SparkListener`: jobs, tasks, task run/CPU/GC time, task wait for a
  *    slot, shuffle writes, spills, peak execution memory, input bytes and
  *    records, and the task times of stages that run a `Window` operator.
  *  - `QueryExecutionListener`: Catalyst analysis/optimization/planning
  *    time and the physical plan's SQL metrics (sort time, files read).
  *  - `StreamingQueryListener`: micro-batch durations and state-store
  *    figures.
  *  - GC notifications: heap in use after each collection.
  *
  * Counters are reset at the start of the measured phase ([[begin]]) and
  * read after the listener bus has drained ([[end]]). */
final class Tracer(spark: SparkSession) {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val maxima = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val windowStages = mutable.Set.empty[Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  @volatile private var recording = false

  private def add(key: String, v: Double): Unit = synchronized { sums(key) += v }
  private def max(key: String, v: Double): Unit =
    synchronized { maxima(key) = math.max(maxima(key), v) }

  /** Wall time of `f`, summed under `name`. */
  def span[T](name: String)(f: => T): T = {
    val t = System.nanoTime()
    try f finally if (recording) add(name, (System.nanoTime() - t) / 1e6)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) add("jobs", 1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      stageSubmitted(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
      if (SparkInternals.operatorScopes(info).exists(_.startsWith("Window")))
        windowStages += info.stageId
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      Tracer.this.synchronized {
        sums("tasks") += 1
        sums("task.cpu_ms") += m.executorCpuTime / 1e6
        sums("task.gc_ms") += m.jvmGCTime
        sums("task.wait_ms") += math.max(0L, info.launchTime - stageSubmitted.getOrElse(e.stageId, info.launchTime))
        sums("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        sums("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        sums("input_bytes") += m.inputMetrics.bytesRead
        sums("input_records") += m.inputMetrics.recordsRead
        maxima("peak_exec_mem") = math.max(maxima("peak_exec_mem"), m.peakExecutionMemory.toDouble)
        if (windowStages.contains(e.stageId)) {
          sums("window_task_ms") += m.executorRunTime
          stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageTaskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val median = sorted(sorted.size / 2).toDouble
        if (median > 0) skews += sorted.last / median
      }
      stageSubmitted.remove(e.stageInfo.stageId)
      windowStages -= e.stageInfo.stageId
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => add(s"catalyst.$p", s.durationMs.toDouble))
        }
        walk(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Visits the executed physical plan, including adaptive stages. */
  private def walk(plan: SparkPlan): Unit = plan match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case r: ReusedExchangeExec => () // counted where it ran
    case p =>
      p.metrics.get("sortTime").foreach(m => add("sort_ms", m.value.toDouble))
      p.metrics.get("numFiles").foreach(m => add("files_read", m.value.toDouble))
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        val d = p.durationMs.asScala
        add("stream.batches", 1)
        Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
          "walCommit" -> "wal_commit", "commit" -> "commit").foreach { case (k, n) =>
          d.get(k).foreach(v => add(s"stream.$n", v.toDouble))
        }
        p.stateOperators.foreach { s =>
          add("stream.state_commit", s.commitTimeMs.toDouble)
          max("stream.state_rows", s.numRowsTotal.toDouble)
          max("stream.state_mem", s.memoryUsedBytes.toDouble)
        }
      }
  }

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          max("heap_after_gc", used.toDouble)
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ => ()
  }

  /** Starts the measured phase: drains earlier events and zeroes counters. */
  def begin(): Unit = {
    SparkInternals.drainListeners(spark.sparkContext)
    synchronized { sums.clear(); maxima.clear(); skews.clear() }
    recording = true
  }

  /** Stops recording while the benchmark checks outputs, so the checks'
    * own jobs do not count as the workload's. */
  def pause(): Unit = { SparkInternals.drainListeners(spark.sparkContext); recording = false }
  def resume(): Unit = { SparkInternals.drainListeners(spark.sparkContext); recording = true }

  /** Ends the measured phase once every event of it has been delivered. */
  def end(): Unit = {
    SparkInternals.drainListeners(spark.sparkContext)
    recording = false
  }

  /** Every per-layer metric, as (name, value, unit). Times and counts are
    * per operation (one screen, ingest batch or micro-batch); a layer the
    * workload does not reach reads 0. */
  def perLayer(m: Measured): Seq[(String, Double, String)] = synchronized {
    val n = math.max(m.attempted, 1).toDouble
    val mib = 1024.0 * 1024.0
    val batches = math.max(sums("stream.batches"), 1.0)
    val tasks = math.max(sums("tasks"), 1.0)
    val sortedSkews = skews.sorted
    Seq(
      ("exec.sort_ms", sums("sort_ms") / n, "ms"),
      ("exec.window_task_ms", sums("window_task_ms") / n, "ms"),
      ("exec.shuffle_write_mb", sums("shuffle_write_bytes") / mib / n, "MiB"),
      ("exec.spill_mb", sums("spill_bytes") / mib / n, "MiB"),
      ("exec.peak_exec_mem_mb", maxima("peak_exec_mem") / mib, "MiB"),
      ("scheduler.task_skew",
        if (sortedSkews.isEmpty) 0.0 else sortedSkews(sortedSkews.size / 2), "ratio"),
      ("screen.indicators_ms", sums("screen.indicators_ms") / n, "ms"),
      ("operators.rsi_signals_ms", sums("operators.rsi_signals_ms") / n, "ms"),
      ("operators.ma_crossover_ms", sums("operators.ma_crossover_ms") / n, "ms"),
      ("sources.load_ms", sums("sources.load_ms") / n, "ms"),
      ("sources.files_read", sums("files_read") / n, "count"),
      ("sources.bytes_read_mb", sums("input_bytes") / mib / n, "MiB"),
      ("sources.rows_read", sums("input_records") / n, "count"),
      ("operators.validate_ms", sums("operators.validate_ms") / n, "ms"),
      ("operators.ohlc_ms", sums("operators.ohlc_ms") / n, "ms"),
      ("sink.write_ms", sums("sink.write_ms") / n, "ms"),
      ("streaming.add_batch_ms", sums("stream.add_batch") / batches, "ms"),
      ("streaming.query_planning_ms", sums("stream.query_planning") / batches, "ms"),
      ("streaming.wal_commit_ms", sums("stream.wal_commit") / batches, "ms"),
      ("streaming.commit_ms", sums("stream.commit") / batches, "ms"),
      ("streaming.state_commit_ms", sums("stream.state_commit") / batches, "ms"),
      ("streaming.state_rows", maxima("stream.state_rows"), "count"),
      ("streaming.state_mem_mb", maxima("stream.state_mem") / mib, "MiB"),
      ("streaming.signals_per_tick",
        if (sums("stream.ticks") > 0) sums("stream.signals") / sums("stream.ticks") else 0.0, "ratio"),
      ("catalyst.analysis_ms", sums("catalyst.analysis") / n, "ms"),
      ("catalyst.optimization_ms", sums("catalyst.optimization") / n, "ms"),
      ("catalyst.planning_ms", sums("catalyst.planning") / n, "ms"),
      ("scheduler.jobs_per_op", sums("jobs") / n, "count"),
      ("scheduler.tasks_per_op", sums("tasks") / n, "count"),
      ("scheduler.task_wait_ms", sums("task.wait_ms") / tasks, "ms"),
      ("task.cpu_ms", sums("task.cpu_ms") / n, "ms"),
      ("task.gc_ms", sums("task.gc_ms") / n, "ms"),
      ("jvm.gc_ms", m.gcMs / n, "ms"),
      ("jvm.heap_after_gc_mb", maxima("heap_after_gc") / mib, "MiB"),
      ("jvm.jit_ms", m.jitMs / n, "ms"))
  }

  /** Adds a workload-side count (ticks, signals) to the trace. Counted
    * while checks run, so not gated on recording; [[begin]] clears what
    * warm-up added. */
  def count(key: String, v: Double): Unit = add(key, v)
}

/** JVM-wide clocks and the heap probe. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of each application thread: every thread Java can see
    * (the submitting thread, task, listener and state-store threads), which leaves out
    * HotSpot's JIT compiler and GC threads. */
  def appCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Application-thread CPU spent since `before` was taken, per thread, so
    * a thread that ends in between does not take its earlier CPU with it. */
  def appCpuSince(before: Map[Long, Long]): Long =
    appCpu().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, in MiB. */
  def heldMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

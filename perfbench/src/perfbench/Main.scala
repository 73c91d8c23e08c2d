package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One workload run in this JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Prints one line `PERFBENCH_RESULT {json}` with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics untraced, the
  * per-layer metrics traced. A traced run also prints its end-to-end
  * figures on stderr, so the tracing overhead can be read off. Exits 1
  * when a check failed. */
object Main {
  /** Task slots: fewer than the cores of a 4-core host, so background
    * load on the host moves the figures less. */
  val Slots = 2
  val Workloads: Map[String, Run => Measured] = Map(
    "indicator_screen" -> Screen.run,
    "flatfile_ingest" -> Ingest.run,
    "tick_stream" -> TickStream.run)

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload,
      sys.error(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"

    val selfTest = Reference.selfTest() ++ Checks.biteTest()
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (4 * Slots).toString)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark, opts("seed").toLong, opts("seconds").toInt, work,
      if (trace) Some(new Tracer(spark)) else None, entry)
    run.verdict.addAll(selfTest)
    val m = body(run)
    val e2e = m.endToEnd
    val metrics = run.tracer.fold(e2e)(_.perLayer(m))
    if (trace) Console.err.println("end-to-end figures of this traced run: " +
      e2e.map { case (n, v, u) => f"$n=$v%.4f $u" }.mkString(", "))
    Console.err.println("operation latencies (ms): " + m.latenciesMs.map(v => f"$v%.0f").mkString(" "))
    run.verdict.messages.take(20).foreach(msg => Console.err.println(s"CHECK FAILED: $msg"))

    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"correct": ${run.verdict.correct}, "attempted": ${m.attempted}, """ +
      s""""failed": ${m.failed}, "samples": ${m.latenciesMs.size}, "metrics": $json}""")
    spark.stop()
    System.exit(if (run.verdict.correct) 0 else 1)
  }
}

package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, collect_list, count, lit, struct, when}
import graft.streaming.{MarketTick, StateContract, StreamingPipeline}

/** `tick_stream`: the live indicator engine. Ticks enter through a
  * `MemoryStream`, run `StreamingPipeline.indicatorsTws` on its default
  * path (RocksDB state store, event-time TTL), then `detectSignals`, into
  * a `foreachBatch` sink that keeps only counts and the rows of a few
  * sampled symbols. The loop is closed: the next micro-batch is added
  * when the previous one has been processed. One operation is one
  * micro-batch of [[BatchTicks]] ticks.
  *
  * Input: [[Symbols]] symbols whose tick rates follow a Zipf curve of
  * rank; event time rises by [[TickMicros]] per tick, so no tick is late.
  * The seed draws which symbol ticks, its price path and its volumes. */
object TickStream {
  val Symbols = 2000
  val ZipfS = 1.0
  val BatchTicks = 2000
  val Window = 20
  val TickMicros = 200L
  val StatePartitions = 2

  def symbol(k: Int): String = f"Y$k%04d"

  private val start = Timestamp.valueOf("2024-06-03 13:30:00").getTime * 1000L
  private val cdf: Array[Double] = Rng.zipfWeights(Symbols, ZipfS).scanLeft(0.0)(_ + _).tail

  /** What the sink keeps of one micro-batch. */
  final case class BatchOut(rows: Long, signals: Map[String, Long], sample: Array[Row])

  def run(r: Run): Measured = {
    val spark = r.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val sampled = (Seq(0, 1, Symbols - 1) ++ Seq.fill(2)(10 + new Rng(r.seed).nextInt(Symbols - 20))).distinct
    val sampledNames = sampled.map(symbol)
    val price = Array.tabulate(Symbols)(k => 10.0 + 490.0 * Rng.derive(r.seed, 5, k).nextDouble())
    val refState = Array.fill(Symbols)(new Reference.TickState(Window))
    val refSignals = Array.fill(Reference.TickSignalTypes.size)(Reference.zero)
    var expectedSample = Map.empty[String, Seq[(Long, Array[Double])]]
    val sinkSignals = new Array[Long](Reference.TickSignalTypes.size)

    /** Ticks of micro-batch `b`, with the reference fed alongside. */
    def makeBatch(b: Int): Seq[MarketTick] = {
      val g = Rng.derive(r.seed, 6, b)
      val perSymbol = scala.collection.mutable.Map.empty[String, Vector[(Long, Array[Double])]]
      val ticks = Seq.tabulate(BatchTicks) { j =>
        val u = g.nextDouble()
        val k = math.min(Symbols - 1, java.util.Arrays.binarySearch(cdf, u) match {
          case i if i >= 0 => i
          case i => -i - 1
        })
        val p = price(k) * math.exp(0.0005 * g.gaussian())
        price(k) = p
        val volume = (1L + g.nextInt(1000)) * (if (g.nextDouble() < 0.02) 5L else 1L)
        val micros = start + (b.toLong * BatchTicks + j) * TickMicros
        val ts = new Timestamp(micros / 1000)
        ts.setNanos(((micros % 1000000) * 1000).toInt)
        val values = refState(k).update(p, volume)
        val sig = Reference.tickSignals(values)
        sig.indices.foreach(i => refSignals(i) += sig(i))
        if (sampled.contains(k))
          perSymbol(symbol(k)) = perSymbol.getOrElse(symbol(k), Vector.empty) :+ (micros -> values)
        MarketTick(symbol(k), ts, p, volume, Some(p - 0.01), Some(p + 0.01))
      }
      expectedSample = perSymbol.toMap
      ticks
    }

    // one job per micro-batch: the signal counts are the action, and an
    // observation on the indicator rows counts them and keeps the sampled
    // symbols' rows, so nothing is cached or collected beyond that
    val latest = new AtomicReference[BatchOut]()
    val sampleRow = struct(Seq("symbol", "timestamp", "sma", "ema", "rsi", "volumeSma", "volumeRatio").map(col): _*)
    val sink: (DataFrame, Long) => Unit = (batch, _) => r.span("sink.write_ms") {
      val seen = Observation()
      val values = batch.observe(seen, count(lit(1)).as("rows"),
        collect_list(when(col("symbol").isin(sampledNames: _*), sampleRow)).as("sample"))
      val signals = StreamingPipeline.detectSignals(values).groupBy("signalType").count()
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      val m = seen.get
      latest.set(BatchOut(m("rows").asInstanceOf[Long], signals,
        m("sample").asInstanceOf[scala.collection.Seq[Row]].toArray))
    }

    val ckpt = r.work.resolve("checkpoint").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    // one micro-batch per added block: no extra watermark-only batches
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    StateContract.validate(spark, ckpt,
      StateContract.indicatorsTwsContract(Window, StreamingPipeline.DefaultIdleMs))
    val input = MemoryStream[MarketTick]
    val query = StreamingPipeline.indicatorsTws(input.toDS(), Window).toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink)
      .start()

    var batch = 0
    var pending: Seq[MarketTick] = Nil
    def prepare(): Unit = { pending = r.offClock(makeBatch(batch)); batch += 1 }
    def step(): Long = {
      input.addData(pending)
      query.processAllAvailable()
      pending = Nil
      BatchTicks.toLong
    }
    def check(): Unit = {
      val out = latest.getAndSet(null)
      if (out == null) { r.verdict.add(Some(s"batch ${batch - 1}: sink saw no micro-batch")); return }
      r.verdict.add(Checks.exact(s"batch ${batch - 1} indicator rows", BatchTicks.toLong, out.rows))
      Reference.TickSignalTypes.zipWithIndex.foreach { case (t, i) => sinkSignals(i) += out.signals.getOrElse(t, 0L) }
      r.tracer.foreach { t =>
        t.count("stream.ticks", BatchTicks.toDouble)
        t.count("stream.signals", out.signals.values.sum.toDouble)
      }
      val got = out.sample.groupBy(_.getAs[String]("symbol"))
      sampledNames.foreach { s =>
        val exp = expectedSample.getOrElse(s, Nil)
        val rows = got.getOrElse(s, Array.empty[Row]).sortBy { row =>
          val ts = row.getAs[Timestamp]("timestamp"); ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
        }
        def field(name: String): Array[Double] = rows.map { row =>
          if (row.isNullAt(row.fieldIndex(name))) Double.NaN else row.getAs[Double](name)
        }
        Seq("sma" -> 0, "ema" -> 1, "rsi" -> 2, "volumeSma" -> 3, "volumeRatio" -> 4).foreach { case (name, i) =>
          r.verdict.add(Checks.series(s"batch ${batch - 1} $s $name", exp.map(_._2(i)).toArray, field(name)))
        }
      }
    }

    try {
      r.warmUp(minOps = 8, seconds = 20) { _ => prepare(); step(); check() }
      val m = r.measure(minOps = 3, heldEvery = 10)(_ => prepare())(_ => step())(_ => check())
      Reference.TickSignalTypes.zipWithIndex.foreach { case (t, i) =>
        r.verdict.add(Checks.counted(s"$t signals", refSignals(i), sinkSignals(i)))
      }
      m
    } finally {
      query.stop()
    }
  }
}

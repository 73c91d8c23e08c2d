package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._
import graft.functions.FinancialFunctions
import graft.operators.Signals

/** `indicator_screen`: the original project's "combined analysis" over a
  * universe of minute bars. One operation is one screen: the four
  * indicator window functions in one SQL pass, then the RSI and the
  * MA-crossover signal scans, each forced through the `noop` sink.
  *
  * Input: [[Tickers]] tickers whose history lengths fall off as a Zipf
  * curve of rank (the same for every seed, so every seed has the same
  * sort and window skew); the seed draws the price paths. Stored as
  * parquet in time order and read back the way a user would, so the
  * window's input sort has real work to do. */
object Screen {
  val Tickers = 400
  val TotalRows = 300000
  val MinBars = 300
  val ZipfS = 0.9

  val Sql: String =
    """SELECT ticker, window_start, close,
      |  sma(close, 20) OVER w AS sma20,
      |  ema(close, 12) OVER w AS ema12,
      |  rsi(close, 14) OVER w AS rsi14,
      |  macd(close)    OVER w AS macd
      |FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY window_start)""".stripMargin

  /** History length of the ticker of rank `k` (0 is the longest). */
  val lengths: Array[Int] = {
    val w = Rng.zipfWeights(Tickers, ZipfS)
    Array.tabulate(Tickers)(k => MinBars + ((TotalRows - Tickers * MinBars) * w(k)).toInt)
  }

  def ticker(k: Int): String = f"S$k%04d"

  private val start = Timestamp.valueOf("2024-01-02 00:00:00").getTime

  /** Closing prices of ticker `k`: a seeded geometric random walk. */
  def closes(seed: Long, k: Int, n: Int): Array[Double] = {
    val r = Rng.derive(seed, 1, k)
    var p = 20.0 + 480.0 * r.nextDouble()
    Array.tabulate(n) { _ => p = p * math.exp(0.002 * r.gaussian()); p }
  }

  val schema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("window_start", TimestampType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType)))

  /** Minute bars of ticker `k`, one per minute from a ticker-specific start. */
  def bars(seed: Long, k: Int, n: Int): Iterator[Row] = {
    val c = closes(seed, k, n)
    val r = Rng.derive(seed, 2, k)
    val t0 = start + k * 60000L * 7
    Iterator.tabulate(n) { i =>
      val open = if (i == 0) c(0) else c(i - 1)
      val high = math.max(open, c(i)) * (1.0 + 0.001 * r.nextDouble())
      val low = math.min(open, c(i)) * (1.0 - 0.001 * r.nextDouble())
      Row(ticker(k), new Timestamp(t0 + i * 60000L), open, high, low, c(i), 100L + r.nextInt(10000))
    }
  }

  def writeUniverse(run: Run, path: String, seed: Long): Unit = {
    val rows = run.spark.sparkContext.parallelize(0 until Tickers, 8)
      .flatMap(k => bars(seed, k, lengths(k)))
    // stored in time order, all tickers interleaved, like a minute-bar store
    run.spark.createDataFrame(rows, schema).orderBy("window_start", "ticker").write.parquet(path)
  }

  def run(r: Run): Measured = {
    val spark = r.spark
    val dir = r.work.resolve("screen")
    val mainPath = dir.resolve("bars").toString
    r.offClock(writeUniverse(r, mainPath, r.seed))

    FinancialFunctions.registerAll(spark)
    val bars = spark.read.parquet(mainPath)
    bars.createOrReplaceTempView("bars")
    val expected = r.offClock(Expected(r.seed))

    // each action counts its own output rows (an observation on the
    // frame written to the noop sink), so every operation is checked
    // without a second pass over the data
    var seen = Seq.empty[(String, Observation)]
    def screen(): Unit = {
      val (ind, rsi, ma) = (Observation(), Observation(), Observation())
      seen = Seq("indicators" -> ind, "rsi" -> rsi, "ma" -> ma)
      r.span("screen.indicators_ms")(r.noop(spark.sql(Sql).observe(ind,
        count(lit(1)).as("rows"), count(col("sma20")).as("sma20"), count(col("ema12")).as("ema12"),
        count(col("rsi14")).as("rsi14"), count(col("macd")).as("macd"))))
      r.span("operators.rsi_signals_ms")(r.noop(
        Signals.detectRsiSignals(bars, "ticker", Seq("window_start"), "close", 14)
          .observe(rsi, count(lit(1)).as("rows"))))
      r.span("operators.ma_crossover_ms")(r.noop(
        Signals.detectMaCrossoverSignals(bars, "ticker", Seq("window_start"), "close", 20, 50)
          .observe(ma, count(lit(1)).as("rows"))))
    }
    def check(i: Int): Unit = {
      val got = seen.map { case (k, o) => k -> o.get }.toMap
      def n(k: String, f: String): Long = got(k)(f).asInstanceOf[Long]
      r.verdict.add(Checks.exact(s"op $i screen rows", expected.rows, n("indicators", "rows")))
      Seq("sma20", "ema12", "rsi14", "macd").foreach { c =>
        r.verdict.add(Checks.exact(s"op $i non-NULL $c", expected.nonNull(c), n("indicators", c)))
      }
      r.verdict.add(Checks.counted(s"op $i RSI signals", expected.rsiSignals, n("rsi", "rows")))
      r.verdict.add(Checks.counted(s"op $i MA crossover signals", expected.maSignals, n("ma", "rows")))
    }

    r.warmUp(minOps = 3, seconds = 28) { i => screen(); check(1000 + i) }
    val m = r.measure(minOps = 3, heldEvery = 1)(_ => ())(_ => { screen(); expected.rows })(check)
    checkSampled(r)
    m
  }

  /** What the reference loops say the whole universe's screen holds. */
  final case class Expected(rows: Long, nonNull: Map[String, Long],
                            rsiSignals: Reference.Count, maSignals: Reference.Count)
  object Expected {
    def apply(seed: Long): Expected = {
      var rsiSig = Reference.zero
      var maSig = Reference.zero
      (0 until Tickers).foreach { k =>
        val x = closes(seed, k, lengths(k))
        rsiSig += Reference.rsiSignals(Reference.rsi(x, 14))
        maSig += Reference.maCrossovers(Reference.sma(x, 20), Reference.sma(x, 50))
      }
      val n = lengths.map(_.toLong).sum
      Expected(n, Map(
        "sma20" -> lengths.map(l => math.max(0L, l - 19L)).sum, "ema12" -> n,
        "rsi14" -> lengths.map(l => math.max(0L, l - 14L)).sum, "macd" -> n), rsiSig, maSig)
    }
  }

  /** Three tickers (the longest, the shortest, one drawn by the seed) row
    * by row against the reference loops. */
  private def checkSampled(r: Run): Unit = {
    val sampled = Seq(0, Tickers - 1, 1 + new Rng(r.seed).nextInt(Tickers - 2)).distinct
    val rows = r.spark.sql(s"SELECT * FROM ($Sql) WHERE ticker IN (${sampled.map(k => s"'${ticker(k)}'").mkString(",")})")
      .collect().groupBy(_.getAs[String]("ticker"))
    def values(rs: Array[Row], name: String): Array[Double] =
      rs.map(row => if (row.isNullAt(row.fieldIndex(name))) Double.NaN else row.getAs[Double](name))
    sampled.foreach { k =>
      val x = closes(r.seed, k, lengths(k))
      val got = rows.getOrElse(ticker(k), Array.empty[Row]).sortBy(_.getAs[Timestamp]("window_start").getTime)
      val t = ticker(k)
      r.verdict.add(Checks.series(s"$t close", x, values(got, "close")))
      r.verdict.add(Checks.series(s"$t sma(20)", Reference.sma(x, 20), values(got, "sma20")))
      r.verdict.add(Checks.series(s"$t ema(12)", Reference.ema(x, 12), values(got, "ema12")))
      r.verdict.add(Checks.series(s"$t rsi(14)", Reference.rsi(x, 14), values(got, "rsi14")))
      r.verdict.add(Checks.series(s"$t macd", Reference.macd(x), values(got, "macd")))
    }
  }
}

package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import org.apache.spark.sql.functions.{col, to_date}
import graft.operators.{Bars, Validation, ValidationReport}
import graft.sources.{Polygon, PolygonClient}

/** `flatfile_ingest`: the Polygon flat-file path. One operation loads a
  * fixed block of dated minute-aggregate CSVs through
  * `PolygonClient.loadData`, validates them, builds day bars with
  * `Bars.ohlc` and writes the bars as parquet.
  *
  * Input: [[Tickers]] tickers trading every minute of [[Days]] days, in
  * the local `global_crypto/minute_aggs_v1/YYYY/YYYY-MM-DD.csv` layout.
  * The seed draws the prices and plants defects at counts the generator
  * records: gaps over 60 s (an isolated missing minute), non-positive
  * prices (a low of 0), negative volumes and OHLC violations (high below
  * low), each on its own row and each tripping exactly one check. */
object Ingest {
  val Tickers = 24
  val Days = 4
  val Minutes = 1440
  val FirstDay: LocalDate = LocalDate.of(2024, 3, 4)
  val dates: Seq[LocalDate] = (0 until Days).map(d => FirstDay.plusDays(d.toLong))

  def ticker(k: Int): String = f"X$k%03dUSD"

  /** Per (ticker, day) figures the generator records while writing. */
  final class DayBar {
    var n = 0L; var volume = 0L
    var open = 0.0; var close = 0.0
    var high = Double.NegativeInfinity; var low = Double.PositiveInfinity
    def add(c: Double, v: Long): Unit = {
      if (n == 0) open = c
      close = c; high = math.max(high, c); low = math.min(low, c)
      n += 1; volume += v
    }
  }

  final case class Planted(checks: Map[String, Long], rows: Long,
                           bars: Map[(String, LocalDate), DayBar])

  private sealed trait Defect
  private case object Gap extends Defect
  private case object NonPositive extends Defect
  private case object NegativeVolume extends Defect
  private case object Ohlc extends Defect

  /** Writes the CSV block under `root`; returns what was planted. */
  def generate(seed: Long, root: Path): Planted = {
    val r = Rng.derive(seed, 3, 0)
    val span = Days * Minutes
    val defects = mutable.Map.empty[(Int, Int), Defect]
    def plant(d: Defect, count: Int): Unit = {
      var left = count
      while (left > 0) {
        val k = r.nextInt(Tickers)
        val m = 1 + r.nextInt(span - 2) // never a ticker's first or last minute
        val isolated = d != Gap || !(defects.get((k, m - 1)).contains(Gap) || defects.get((k, m + 1)).contains(Gap))
        if (!defects.contains((k, m)) && isolated) { defects((k, m)) = d; left -= 1 }
      }
    }
    val counts = Seq(Gap -> (20 + r.nextInt(21)), NonPositive -> (10 + r.nextInt(11)),
      NegativeVolume -> (10 + r.nextInt(11)), Ohlc -> (10 + r.nextInt(11)))
    counts.foreach { case (d, c) => plant(d, c) }

    val price = Array.tabulate(Tickers)(k => 1.0 + 999.0 * Rng.derive(seed, 4, k).nextDouble())
    val bars = mutable.Map.empty[(String, LocalDate), DayBar]
    var rows = 0L
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    dates.zipWithIndex.foreach { case (date, d) =>
      val file = root.resolve(Polygon.filePath(Polygon.Local("."), Polygon.AssetClass.Crypto,
        Polygon.DataType.MinuteAggs, date))
      Files.createDirectories(file.getParent)
      val out = new BufferedWriter(new FileWriter(file.toFile), 1 << 20)
      out.write("ticker,window_start,open,high,low,close,volume,vwap,transactions\n")
      val dayStart = date.atStartOfDay(ZoneOffset.UTC)
      (0 until Minutes).foreach { mm =>
        val ts = fmt.format(dayStart.plusMinutes(mm.toLong))
        (0 until Tickers).foreach { k =>
          val m = d * Minutes + mm
          val open = price(k)
          val close = open * math.exp(0.001 * r.gaussian())
          price(k) = close
          var high = math.max(open, close) * (1.0 + 0.0005 * r.nextDouble())
          var low = math.min(open, close) * (1.0 - 0.0005 * r.nextDouble())
          var volume = 1L + r.nextInt(5000)
          val trades = 1 + r.nextInt(100)
          defects.get((k, m)) match {
            case Some(NonPositive) => low = 0.0
            case Some(NegativeVolume) => volume = -volume
            case Some(Ohlc) => high = low * 0.999
            case _ => ()
          }
          if (!defects.get((k, m)).contains(Gap)) {
            val vwap = (high + low + close) / 3.0
            out.write(s"${ticker(k)},$ts,$open,$high,$low,$close,$volume,$vwap,$trades\n")
            bars.getOrElseUpdate((ticker(k), date), new DayBar).add(close, volume)
            rows += 1
          }
        }
      }
      out.close()
    }
    val byType = counts.map { case (d, c) => d -> c.toLong }.toMap
    Planted(Map(
      "timestamp_gaps" -> byType(Gap),
      "nonpositive_prices" -> byType(NonPositive),
      "negative_volume" -> byType(NegativeVolume),
      "ohlc_violations" -> byType(Ohlc)), rows, bars.toMap)
  }

  def run(r: Run): Measured = {
    val root = r.work.resolve("flatfiles")
    val planted = r.offClock(generate(r.seed, root))
    val client = new PolygonClient(r.spark, Polygon.Local(root.toString))
    val outRoot = r.work.resolve("daybars")
    var report: ValidationReport = null

    def ingest(i: Int): Long = {
      val minutes = r.span("sources.load_ms") {
        dates.map(d => client.loadData(Polygon.AssetClass.Crypto, Polygon.DataType.MinuteAggs, d))
          .reduce(_ union _)
      }
      report = r.span("operators.validate_ms")(Validation.validateMinuteAggs(minutes))
      // day bars from the minute closes; Bars.ohlc names its outputs
      // open/high/low/close/volume, so the inputs are renamed first
      val bars = r.span("operators.ohlc_ms") {
        Bars.ohlc(minutes.select(col("ticker"), col("window_start"),
            to_date(col("window_start")).as("date"), col("close").as("price"), col("volume").as("qty")),
          "price", "qty", Seq("ticker"), "date", Seq("window_start"))
      }
      r.span("sink.write_ms")(bars.write.parquet(outRoot.resolve(s"op$i").toString))
      planted.rows
    }

    def check(i: Int): Unit = {
      r.verdict.add(Checks.exact(s"op $i validated rows", planted.rows, report.totalRows))
      r.verdict.add(Checks.counts(s"op $i validation checks", planted.checks, report.checks))
      val out = outRoot.resolve(s"op$i")
      val got = r.spark.read.parquet(out.toString).collect()
      r.verdict.add(Checks.exact(s"op $i day bars", planted.bars.size.toLong, got.length.toLong))
      got.foreach { row =>
        val key = (row.getAs[String]("ticker"), row.getAs[java.sql.Date]("date").toLocalDate)
        planted.bars.get(key) match {
          case None => r.verdict.add(Some(s"op $i: unexpected day bar $key"))
          case Some(b) =>
            r.verdict.add(Checks.exact(s"op $i $key n_ticks", b.n, row.getAs[Long]("n_ticks")))
            r.verdict.add(Checks.close(s"op $i $key volume", b.volume.toDouble, row.getAs[Double]("volume")))
            r.verdict.add(Checks.close(s"op $i $key open", b.open, row.getAs[Double]("open")))
            r.verdict.add(Checks.close(s"op $i $key close", b.close, row.getAs[Double]("close")))
            r.verdict.add(Checks.close(s"op $i $key high", b.high, row.getAs[Double]("high")))
            r.verdict.add(Checks.close(s"op $i $key low", b.low, row.getAs[Double]("low")))
        }
      }
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }

    r.warmUp(minOps = 3, seconds = 22) { i => ingest(1000 + i); check(1000 + i) }
    r.measure(minOps = 3, heldEvery = 1)(_ => ())(ingest)(check)
  }
}

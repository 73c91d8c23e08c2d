package perfbench

/** Indicator recurrences written as plain loops from the formulas the
  * original project documents (FIXTURES.md §3, `sma.rs`, `ema.rs`,
  * `rsi.rs`, `macd.rs`, `streaming.rs`). Nothing here calls the library:
  * these are the yardstick its outputs are checked against.
  *
  * A NULL output is `Double.NaN`; inputs never contain NaN. */
object Reference {

  /** Trailing mean of the last `n` values, NULL until `n` are seen; the
    * window is summed oldest to newest. */
  def sma(x: Array[Double], n: Int): Array[Double] =
    Array.tabulate(x.length) { i =>
      if (i < n - 1) Double.NaN
      else {
        var s = 0.0
        var j = i - n + 1
        while (j <= i) { s += x(j); j += 1 }
        s / n
      }
    }

  /** EMA with alpha = 2/(n+1), seeded by the first value. */
  def ema(x: Array[Double], n: Int): Array[Double] = emaAlpha(x, 2.0 / (n + 1.0))

  private def emaAlpha(x: Array[Double], alpha: Double): Array[Double] = {
    val out = new Array[Double](x.length)
    var e = 0.0
    var i = 0
    while (i < x.length) {
      e = if (i == 0) x(0) else alpha * x(i) + (1.0 - alpha) * e
      out(i) = e
      i += 1
    }
    out
  }

  /** Wilder's RSI: the first `n` price changes seed the average gain and
    * loss as simple means (first value at row `n`), then each change
    * smooths them as avg*(1-1/n) + change*(1/n). */
  def rsi(x: Array[Double], n: Int): Array[Double] = {
    val out = Array.fill(x.length)(Double.NaN)
    var g = 0.0
    var l = 0.0
    var i = 1
    while (i < x.length) {
      val d = x(i) - x(i - 1)
      val gain = if (d > 0.0) d else 0.0
      val loss = if (d < 0.0) -d else 0.0
      if (i < n) { g += gain; l += loss }
      else if (i == n) { g = (g + gain) / n; l = (l + loss) / n }
      else { g = g * (1.0 - 1.0 / n) + gain * (1.0 / n); l = l * (1.0 - 1.0 / n) + loss * (1.0 / n) }
      if (i >= n) out(i) = rsiOf(g, l)
      i += 1
    }
    out
  }

  def rsiOf(avgGain: Double, avgLoss: Double): Double =
    if (avgLoss == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + avgGain / avgLoss)

  /** MACD line: EMA12 − EMA26, both seeded by the first value (row 0 is 0). */
  def macd(x: Array[Double]): Array[Double] = {
    val e12 = emaAlpha(x, 2.0 / 13.0)
    val e26 = emaAlpha(x, 2.0 / 27.0)
    Array.tabulate(x.length)(i => e12(i) - e26(i))
  }

  /** Outcome of a threshold test on a float: -1 below, 1 above, 0 within
    * `tol` of the threshold, where last-bit differences between two
    * correct implementations could tip it either way. */
  def side(value: Double, threshold: Double, tol: Double = 1e-9): Int = {
    val margin = tol * math.max(1.0, math.max(math.abs(value), math.abs(threshold)))
    if (value < threshold - margin) -1 else if (value > threshold + margin) 1 else 0
  }

  /** A count known up to ambiguous rows: a correct engine reports a value
    * in [lo, hi]. */
  final case class Count(lo: Long, hi: Long) {
    def +(o: Count): Count = Count(lo + o.lo, hi + o.hi)
    def add(sure: Boolean, maybe: Boolean): Count =
      Count(lo + (if (sure) 1 else 0), hi + (if (sure || maybe) 1 else 0))
    def admits(v: Long): Boolean = v >= lo && v <= hi
    override def toString: String = if (lo == hi) s"$lo" else s"[$lo, $hi]"
  }
  val zero: Count = Count(0, 0)

  /** Rows flagged by the RSI scan: RSI below 30 or above 70. */
  def rsiSignals(rsiSeries: Array[Double]): Count =
    rsiSeries.foldLeft(zero) { (c, r) =>
      if (r.isNaN) c
      else {
        val lo = side(r, 30.0); val hi = side(r, 70.0)
        c.add(sure = lo < 0 || hi > 0, maybe = lo == 0 || hi == 0)
      }
    }

  /** Rows where the short SMA crosses the long SMA relative to the
    * previous row. */
  def maCrossovers(short: Array[Double], long: Array[Double]): Count = {
    var c = zero
    var i = 1
    while (i < short.length) {
      if (!short(i).isNaN && !long(i).isNaN && !short(i - 1).isNaN && !long(i - 1).isNaN) {
        val prev = side(short(i - 1), long(i - 1))
        val now = side(short(i), long(i))
        if (prev == 0 || now == 0) c = c.add(sure = false, maybe = true)
        else c = c.add(sure = prev != now, maybe = false)
      }
      i += 1
    }
    c
  }

  /** The live engine's per-symbol state: the last `w` prices, volumes,
    * gains and losses in ring buffers, the EMA, and Wilder's averages. */
  final class TickState(w: Int) {
    private val prices = new Array[Double](w)
    private val volumes = new Array[Long](w)
    private val gains = new Array[Double](w)
    private val losses = new Array[Double](w)
    private var nPrices = 0L
    private var nChanges = 0L
    private var last = 0.0
    private var ema = 0.0
    private var avgGain = 0.0
    private var avgLoss = 0.0

    /** Feeds one tick; returns (sma, ema, rsi, volumeSma, volumeRatio). */
    def update(price: Double, volume: Long): Array[Double] = {
      if (nPrices > 0) {
        val d = price - last
        gains((nChanges % w).toInt) = if (d > 0.0) d else 0.0
        losses((nChanges % w).toInt) = if (d < 0.0) -d else 0.0
        nChanges += 1
      }
      prices((nPrices % w).toInt) = price
      volumes((nPrices % w).toInt) = volume
      ema = if (nPrices == 0) price else (2.0 / (w + 1.0)) * price + (1.0 - 2.0 / (w + 1.0)) * ema
      nPrices += 1
      last = price
      val full = nPrices >= w
      val sma = if (full) oldestFirstSum(prices, nPrices) / w else Double.NaN
      val volSma = if (full) {
        var s = 0L; var k = 0
        while (k < w) { s += volumes(((nPrices + k) % w).toInt); k += 1 }
        s.toDouble / w
      } else Double.NaN
      val rsi =
        if (nChanges < w || nPrices < 2) Double.NaN
        else {
          val newest = ((nChanges - 1) % w).toInt
          if (nChanges == w) {
            avgGain = oldestFirstSum(gains, nChanges) / w
            avgLoss = oldestFirstSum(losses, nChanges) / w
          } else {
            avgGain = avgGain * (1.0 - 1.0 / w) + gains(newest) * (1.0 / w)
            avgLoss = avgLoss * (1.0 - 1.0 / w) + losses(newest) * (1.0 / w)
          }
          rsiOf(avgGain, avgLoss)
        }
      Array(sma, ema, rsi, volSma, if (full) volume.toDouble / volSma else Double.NaN)
    }

    private def oldestFirstSum(ring: Array[Double], count: Long): Double = {
      var s = 0.0; var k = 0
      while (k < w) { s += ring(((count + k) % w).toInt); k += 1 }
      s
    }
  }

  /** The live rules, in the order [[tickSignals]] reports them. */
  val TickSignalTypes: Seq[String] =
    Seq("Oversold", "Overbought", "VolumeSpike", "BullishCrossover", "BearishCrossover")

  /** Signals the live rules raise on one indicator row
    * (sma, ema, rsi, volumeSma, volumeRatio), one count per rule of
    * [[TickSignalTypes]]: RSI below 30, RSI above 70, volume above twice its
    * average, EMA 0.2% above the SMA, EMA 0.2% below it. */
  def tickSignals(v: Array[Double]): Array[Count] = {
    val (sma, ema, rsi, ratio) = (v(0), v(1), v(2), v(4))
    def rule(value: Double, threshold: Double, above: Boolean): Count =
      if (value.isNaN || threshold.isNaN) zero
      else {
        val s = side(value, threshold)
        zero.add(sure = if (above) s > 0 else s < 0, maybe = s == 0)
      }
    Array(rule(rsi, 30.0, above = false), rule(rsi, 70.0, above = true),
      rule(ratio, 2.0, above = true), rule(ema, sma * 1.002, above = true),
      rule(ema, sma * 0.998, above = false))
  }

  /** FIXTURES.md §3 parity series; returns the failures (empty = pass). */
  def selfTest(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val s = sma(Array.tabulate(10)(i => i + 1.0), 3)
    if (!(s(0).isNaN && s(1).isNaN && (2 until 10).forall(i => s(i) == i.toDouble)))
      errs += s"SMA(3) over 1..10 is ${s.mkString(",")}, expected null,null,2..9"
    val e = ema(Array(10.0, 12.0, 13.0, 12.0, 15.0, 11.0, 16.0, 14.0, 18.0, 20.0), 3)
    if (e(0) != 10.0 || e(1) != 11.0 || e(2) != 12.0)
      errs += s"EMA(3) starts ${e.take(3).mkString(",")}, expected 10,11,12"
    val wilder = Array(44.34, 44.09, 44.15, 43.61, 44.33, 44.83, 45.85, 46.08, 45.89,
      46.03, 46.83, 47.69, 46.49, 46.26, 47.09, 46.66, 46.80, 46.23, 46.38, 46.33, 46.51)
    // by hand: over the first 14 changes gains sum to 5.16 and losses to
    // 2.41, so RSI = 100 - 100/(1 + 5.16/2.41). (The
    // textbook 70.46 belongs to a different, classic price list.)
    val r = rsi(wilder, 14)
    if (!(0 until 14).forall(i => r(i).isNaN) || math.abs(r(14) - 68.1638044914135) > 1e-9)
      errs += f"RSI(14) at row 15 is ${r(14)}%.6f, expected 68.163804 after 14 NULLs"
    val m = macd(Array.tabulate(30)(i => 100.0 + 2.0 * i * (if (i % 2 == 0) 1 else -1)))
    if (m(0) != 0.0) errs += s"MACD row 0 is ${m(0)}, expected 0.0"
    // the live engine on the same series agrees with the batch loops
    val st = new TickState(14)
    val live = wilder.map(p => st.update(p, 100L))
    if (math.abs(live(14)(2) - r(14)) > 1e-9 || !live(12)(2).isNaN)
      errs += s"live RSI(14) ${live(14)(2)} disagrees with batch ${r(14)}"
    val liveSma = live.map(_(0))
    val batchSma = sma(wilder, 14)
    if (!liveSma.indices.forall(i => liveSma(i).isNaN == batchSma(i).isNaN &&
        (liveSma(i).isNaN || liveSma(i) == batchSma(i))))
      errs += "live SMA(14) disagrees with batch SMA(14)"
    errs.result()
  }
}

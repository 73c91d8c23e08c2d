package perfbench

import scala.collection.mutable.ArrayBuffer

/** Output checkers. Each returns `None` when the output is right and a
  * message when it is not; [[Verdict]] collects the messages of a run. */
object Checks {

  /** Relative tolerance on indicator values: the library and the loops in
    * [[Reference]] fold in the same order, so they should agree to the
    * last bits; this leaves room for a reordered sum, not for a wrong one. */
  val ValueTol = 1e-9

  /** NULL (NaN) positions must match exactly; values within [[ValueTol]]. */
  def series(label: String, expected: Array[Double], actual: Array[Double]): Option[String] =
    if (expected.length != actual.length)
      Some(s"$label: ${actual.length} rows, expected ${expected.length}")
    else expected.indices.collectFirst {
      case i if expected(i).isNaN != actual(i).isNaN =>
        s"$label row $i: ${fmt(actual(i))}, expected ${fmt(expected(i))} (NULL position)"
      case i if !expected(i).isNaN &&
          math.abs(expected(i) - actual(i)) > ValueTol * math.max(1.0, math.abs(expected(i))) =>
        s"$label row $i: ${actual(i)}, expected ${expected(i)}"
    }

  def exact(label: String, expected: Long, actual: Long): Option[String] =
    if (expected == actual) None else Some(s"$label: $actual, expected $expected")

  def close(label: String, expected: Double, actual: Double): Option[String] =
    if (math.abs(expected - actual) <= ValueTol * math.max(1.0, math.abs(expected))) None
    else Some(s"$label: $actual, expected $expected")

  def counted(label: String, expected: Reference.Count, actual: Long): Option[String] =
    if (expected.admits(actual)) None else Some(s"$label: $actual, expected $expected")

  /** Every key of `expected` must be present in `actual` with that count. */
  def counts(label: String, expected: Map[String, Long], actual: Map[String, Long]): Option[String] = {
    val bad = (expected.keySet ++ actual.keySet).toSeq.sorted.filter(k => expected.get(k) != actual.get(k))
    if (bad.isEmpty) None
    else Some(s"$label: " + bad.map(k => s"$k=${actual.getOrElse(k, "-")} (expected ${expected.getOrElse(k, "-")})").mkString(", "))
  }

  private def fmt(v: Double): String = if (v.isNaN) "NULL" else v.toString

  /** Failure messages of one run; `correct` is true when there are none. */
  final class Verdict {
    private val failures = ArrayBuffer.empty[String]
    def add(result: Option[String]): Unit = result.foreach(m => synchronized { failures += m })
    def addAll(results: Iterable[String]): Unit = synchronized { failures ++= results }
    def correct: Boolean = synchronized(failures.isEmpty)
    def messages: Seq[String] = synchronized(failures.toSeq)
  }

  /** Feeds each checker a deliberately wrong output and returns a message
    * for every checker that failed to reject it (empty = all checks bite). */
  def biteTest(): Seq[String] = {
    val missed = Seq.newBuilder[String]
    def mustReject(what: String, r: Option[String]): Unit =
      if (r.isEmpty) missed += s"checker accepted $what"

    val rng = new Rng(7L)
    val closes = Array.iterate(100.0, 300)(p => p * (1.0 + 0.01 * rng.gaussian()))
    // off-by-one window: SMA(21) and a one-row shift passed off as SMA(20)
    val sma20 = Reference.sma(closes, 20)
    mustReject("an SMA(21) as SMA(20)", series("sma", sma20, Reference.sma(closes, 21)))
    mustReject("an SMA(20) shifted by one row",
      series("sma", sma20, Double.NaN +: sma20.dropRight(1)))
    mustReject("an RSI(13) as RSI(14)",
      series("rsi", Reference.rsi(closes, 14), Reference.rsi(closes, 13)))
    // a signal count one short of the reference
    val sig = Reference.rsiSignals(Reference.rsi(closes, 14))
    mustReject("an RSI signal count one short", counted("rsi signals", sig, sig.lo - 1))
    // one planted defect too few
    val planted = Map("timestamp_gaps" -> 31L, "negative_volume" -> 12L,
      "nonpositive_prices" -> 9L, "ohlc_violations" -> 17L)
    mustReject("a report with one gap too few",
      counts("validation", planted, planted.updated("timestamp_gaps", 30L)))
    // a day-bar volume total off by one unit
    mustReject("a day-bar volume one unit short", close("volume", 1.0e6, 1.0e6 - 1))
    // a dropped tick: one indicator row missing from a batch, and the
    // sampled symbol's series one tick short
    mustReject("a batch with one tick dropped", exact("indicator rows", 5000L, 4999L))
    val st = new Reference.TickState(20)
    val live = closes.map(p => st.update(p, 10L)(0))
    val st2 = new Reference.TickState(20)
    val dropped = closes.patch(150, Nil, 1).map(p => st2.update(p, 10L)(0))
    mustReject("a symbol series with one tick dropped",
      series("tick sma", live.patch(150, Nil, 1), dropped))
    missed.result()
  }
}

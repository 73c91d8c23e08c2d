package perfbench

/** SplitMix64: a small, fully specified generator, so the same seed gives
  * the same inputs on every JVM. Streams for sub-inputs are derived with
  * [[Rng.derive]] rather than by sharing one generator, so a ticker's
  * series does not depend on the order in which series are generated. */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt

  /** Standard normal (Box–Muller, one value per call). */
  def gaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    val u2 = nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

object Rng {
  def derive(seed: Long, stream: Long, index: Long): Rng =
    new Rng(new Rng(seed * 0x632BE59BD9B4E019L + stream * 0x85157AF5L + index).nextLong())

  /** Zipf weights 1/(k+1)^s for k in 0 until n, normalised to sum 1. */
  def zipfWeights(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    w.map(_ / total)
  }
}

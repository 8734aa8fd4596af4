package perfbench

import java.util.Locale

/** Percentiles, metric-name rules and locale-independent number output. */
object Stats {

  /** A p90 is reported only from at least this many samples: with fewer,
    * fewer than ten samples lie beyond it and it is mostly one outlier.
    */
  val MinSamplesForP90 = 100

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  def validName(name: String): Boolean = name.matches(NamePattern)

  /** Linear-interpolated percentile (the "inclusive" rule: p0 = min,
    * p100 = max). `p` is in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= MinSamplesForP90) Some(percentile(xs, 90)) else None

  /** A number as JSON text, with every digit and independent of the JVM
    * locale. NaN and infinities have no JSON form and are refused.
    */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite metric value $x")
    java.lang.Double.toString(x)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Order statistics, a least-squares line fit, an input digest and a
  * minimal JSON writer — the only numeric and output helpers the harness
  * uses. */
object Stats {

  /** Nearest-rank percentile (`p` in [0, 1]) of unsorted values; NaN when
    * empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val a = xs.toArray
    if (a.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(a)
      a(math.min(a.length - 1, math.max(0, math.ceil(p * a.length).toInt - 1)))
    }
  }

  /** Median; the mean of the two middle values for an even count. */
  def p50(xs: Iterable[Double]): Double = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2)
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2.0
  }

  /** Least-squares fit y = a + b·x; (NaN, NaN) with fewer than two distinct
    * x values. */
  def fitLine(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (pts.size < 2 || sxx == 0.0) (Double.NaN, Double.NaN)
    else {
      val b = pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
      (my - b * mx, b)
    }
  }

  /** Zero for NaN/infinite values, so per-layer metrics of an idle layer
    * print as 0 rather than as invalid JSON. */
  def finite(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x

  /** SHA-256 over the canonical text of every generated input row, so two
    * sets of runs can be shown to use identical inputs. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Canonical one-line text of a row: the value set that row hashes and
    * result comparisons are made over. */
  def canon(values: Seq[Any]): String = values.map(String.valueOf).mkString("\u0001")

  object Json {
    def str(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    def num(x: Double): String = {
      val v = finite(x)
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
    }
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  }
}

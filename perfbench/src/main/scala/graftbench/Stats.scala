package graftbench

import scala.collection.mutable

/** Order statistics over the samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, or None
    * when the sample is too small to have a tail. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 90).find(p => xs.length * (100 - p) / 100 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}

/** Minimal JSON writer for the result lines (numbers keep all digits). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Named latency samples of one run, in insertion order. */
final class Samples {
  private val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def names: Seq[String] = byName.keys.toSeq
  def apply(name: String): Seq[Double] = byName.get(name).map(_.toSeq).getOrElse(Nil)
}

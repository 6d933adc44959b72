package graftbench

/** Order statistics and the metric table a run prints. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ratio[A, B](num: A, den: B)(implicit a: Numeric[A], b: Numeric[B]): Double =
    if (b.toDouble(den) == 0) 0.0 else a.toDouble(num) / b.toDouble(den)
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put[A](name: String, unit: String, value: A)(implicit n: Numeric[A]): Unit =
    m(name) = (n.toDouble(value), unit)
  def get(name: String): Double = m(name)._1
  def names: Seq[String] = m.keys.toSeq
  def ++=(o: Metrics): Unit = o.m.foreach { case (k, v) => m(k) = v }

  def table: Seq[String] = m.toSeq.map { case (k, (v, u)) => f"$k%-34s ${fmt(v)}%16s $u" }

  def json: String = m.toSeq.map { case (k, (v, u)) =>
    s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

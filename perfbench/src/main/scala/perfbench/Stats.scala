package perfbench

import scala.collection.mutable

/** Latency samples by kind, in milliseconds. */
final class Samples {
  private val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(kind: String, ms: Double): Unit = synchronized {
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += ms
  }

  def apply(kind: String): Vector[Double] = synchronized {
    byKind.get(kind).map(_.toVector).getOrElse(Vector.empty)
  }
}

object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile that still has at least ten samples beyond
    * it, as (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((100.0 * (xs.size - 10) / xs.size, xs.sorted.apply(xs.size - 11)))
}

/** Human-readable lines printed before the result. */
object Report {
  def kinds(kinds: Seq[String], samples: Samples): Seq[String] = kinds.map { k =>
    val xs = samples(k)
    f"$k%-14s n=${xs.size}%4d  p50 ${Stats.median(xs)}%9.2f ms  max ${xs.max}%9.2f ms"
  }

  /** `<name>_p50_<unit>` and `<name>_tail_<unit>` over the pooled kinds. */
  def named(name: String, unit: String, samples: Samples, kinds: Seq[String], tail: Boolean = true): String = {
    val xs = kinds.flatMap(samples(_))
    val p50 = f"${name}_p50_$unit = ${Stats.median(xs)}%.2f $unit"
    if (!tail) p50
    else p50 + (Stats.tail(xs) match {
      case Some((pct, v)) => f"; ${name}_tail_$unit = $v%.2f $unit (p$pct%.1f of n=${xs.size})"
      case None => s"; ${name}_tail_$unit = n/a (n=${xs.size}, fewer than 11 samples)"
    })
  }
}

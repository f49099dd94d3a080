package graftbench

import java.util.Locale

/** Order statistics and the locale-independent JSON writer the harness
  * reports through. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail latency: the highest ladder percentile that still leaves
    * at least 10 samples above its nearest-rank value. Returns
    * (percentile, value, n); with fewer than 20 samples no ladder step
    * qualifies and the maximum is returned as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    TailLadder.iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100 * n - 1e-9).toInt)
      (p, rank)
    }.find { case (_, rank) => n - rank >= 10 } match {
      case Some((p, rank)) => (p, s(rank - 1), n)
      case None            => (100.0, s.last, n)
    }
  }

  /** Length of the union of half-open intervals, clipped to [lo, hi). */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Minimal JSON writer. Numbers go through `Double.toString`, which
  * ignores the default locale, so a German or French JVM still writes
  * `1.5`, never `1,5`. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c            => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def nums(m: Seq[(String, Double)]): String =
    obj(m.map { case (k, v) => k -> num(v) })
}

package graftbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest order statistic that still has at least `beyond`
    * samples above it, with its percentile rank. With n samples sorted
    * ascending that is index n - 1 - beyond, whose rank is
    * 100 * (n - beyond) / n (the share of samples at or below it).
    * None when the sample is too small to support any tail. */
  case class Tail(value: Double, percentile: Double, samples: Int)

  def tailWithBeyond(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val i = n - 1 - beyond
      Some(Tail(s(i), 100.0 * (i + 1) / n, n))
    }
  }

  /** Total length of the union of half-open intervals [start, end),
    * each clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toArray.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time inside [lo, hi) that no interval covers. */
  def idleLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - unionLength(intervals, lo, hi)
}

/** Minimal JSON writer for the result and trace files (numbers, strings,
  * booleans, maps and sequences). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

package perfbench

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /**
   * The tail latency: the highest percentile that still has at least 10
   * samples above it, i.e. the sample with exactly 10 larger ones. Below 20
   * samples that would fall under the median, so the median is used.
   * Returns (value, percentile used).
   */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (median(xs), 50d)
    else (xs.sorted.apply(n - 11), 100d * (n - 10) / n)
  }
}

/** Already-rendered JSON, embedded as is. */
final class RawJson(val text: String)

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case r: RawJson => r.text
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

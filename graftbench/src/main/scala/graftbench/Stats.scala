package graftbench

/** Summary statistics and the small JSON writer the result lines use. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size - 1e-9).toInt.max(1)
    s(rank - 1)
  }

  val tailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that still has at least ten
    * samples beyond it, as (percentile, value); None below 20 samples.
    * A tail read from fewer than ten samples is one slow sample. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    tailCandidates.find { p =>
      n - math.ceil(p / 100.0 * n - 1e-9).toInt >= 10
    }.map(p => p -> percentile(xs, p))
  }

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Render a JSON value: Map (ordered as given), Seq, String, Boolean,
    * whole numbers and doubles (non-finite doubles become null). */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${jsonString(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case other => jsonString(other.toString)
  }
}

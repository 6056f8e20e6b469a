package bench

/** Minimal JSON writer for the result line and the run record. */
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

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Short) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  /** The highest of p50/p90/p95/p99 with at least ten samples beyond it
    * (at least p50), with its value: the tail a run can actually resolve. */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.length
    val p = Seq(0.99, 0.95, 0.90).find(p => n - math.ceil(p * n) >= 10).getOrElse(0.5)
    (s"p${(p * 100).round}", pct(xs, p))
  }

  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val (tn, tv) = tail(xs)
      Map("n" -> xs.length, "p50" -> median(xs), tn -> tv, "max" -> xs.max)
    }
}

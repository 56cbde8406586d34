package perfbench

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile p (1..100): the smallest sample with at least
    * p% of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Samples strictly above the nearest-rank percentile p. */
  def above(n: Int, p: Int): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The tail percentile of `n` samples: the highest p in 50..99 that
    * leaves at least 10 samples above it. None below 20 samples, where
    * even the median has fewer than 10 above it.
    */
  def tailPercentile(n: Int): Option[Int] = (99 to 50 by -1).find(p => above(n, p) >= 10)

  final case class Summary(n: Int, p50: Double, tailP: Option[Int], tail: Option[Double])

  /** Median and tail; a median of 0 when every operation failed (the run
    * is then reported incorrect anyway).
    */
  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.length)
    Summary(xs.length, if (xs.isEmpty) 0.0 else median(xs), tp, tp.map(percentile(xs, _)))
  }
}

/** Minimal JSON writer for the result line (no library on the classpath
  * is assumed beyond the JDK and Scala).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def apply(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case None => "null"
    case Some(x) => apply(x)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> apply(x) }.sortBy(_._1))
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

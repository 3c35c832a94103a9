package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail value: the highest order statistic that still has at least
    * `beyond` samples strictly after it in sorted order, i.e. the sample of
    * rank `n - beyond` (1-based). `percentile` is that rank as a share of n.
    * None when there are not more than `beyond` samples. */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val rank = n - beyond
      Some(Tail(xs.sorted.apply(rank - 1), 100.0 * rank / n, n, beyond))
    }
  }
}

/** Pre-rendered JSON, embedded as is. */
final case class Raw(json: String)

/** Minimal JSON writer: the bench output must stay a single parseable line. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def apply(v: Any): String = v match {
    case Raw(j) => j
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"json: ${other.getClass}")
  }

  /** Object with keys in the given order. */
  def obj(kv: (String, Any)*): String = kv.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
}

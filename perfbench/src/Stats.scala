package perfbench

/** Order statistics and the small JSON writer the result uses. */
object Stats {

  /** Linear-interpolated percentile (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentile: the highest whole percentile whose
    * interpolated value has at least ten of the `n` samples strictly
    * above it (distinct samples assumed). With ten or fewer samples no
    * percentile qualifies and p0, the minimum, is reported. */
  def tailPercentile(n: Int): Int =
    (99 to 1 by -1).find { p =>
      val num = (n - 1).toLong * p // position = num / 100
      val beyond = if (num % 100 == 0) n - 1 - num / 100 else n - (num + 99) / 100
      beyond >= 10
    }.getOrElse(0)

  final case class Tail(value: Double, percentile: Int, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val p = tailPercentile(xs.size)
    Tail(percentile(xs, p), p, xs.size)
  }

  /** Order-independent digest of a result: rows rendered to strings
    * (numbers already rounded by the caller), sorted, then hashed. */
  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- JSON -------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
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
}

package graftbench

/** Order statistics and the small JSON writer the benchmark reports with. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Samples strictly above the nearest-rank `p`-th percentile position. */
  def beyond(n: Int, p: Double): Int = n - math.max(math.ceil(p / 100.0 * n).toInt, 1)

  /** The highest of the usual reporting percentiles that still has at least
    * `minBeyond` samples beyond it, or None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0).find(p => beyond(n, p) >= minBeyond)

  /** Distribution summary: count, median and the tail percentile the count
    * supports (with how many samples lie beyond it).
    */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val base = Map[String, Any]("n" -> xs.length, "p50" -> median(xs),
        "min" -> xs.min, "max" -> xs.max)
      tailPercentile(xs.length).fold(base) { p =>
        base ++ Map("tail_pct" -> p, "tail" -> percentile(xs, p),
          "tail_beyond" -> beyond(xs.length, p))
      }
    }

  /** Metric names: a letter or digit first, then letters, digits, `_`, `.`
    * and `-`, at most 64 characters.
    */
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.\\-]{0,63}".r

  def validName(s: String): Boolean = NamePattern.matches(s)

  // ---- JSON ----

  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.result()
  }

  /** Render maps, sequences, strings, numbers, booleans and None/null.
    * Non-finite doubles render as null. Map keys keep insertion order when
    * given a ListMap / SeqMap.
    */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => json(other.toString)
  }
}

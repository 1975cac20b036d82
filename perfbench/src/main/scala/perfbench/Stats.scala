package perfbench

/** Summary statistics for benchmark samples.
  *
  * Quartiles follow Python's `statistics.quantiles(values, n=4)` (the
  * default "exclusive" method), so numbers printed here match the ones a
  * reader recomputes from the recorded samples.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3) as `statistics.quantiles(xs, n=4)` returns them. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val s = xs.sorted.toIndexedSeq
    val ld = s.length
    if (ld == 1) return (s(0), s(0), s(0))
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** The highest whole percentile p that still has at least `beyond`
    * samples strictly above it, with its nearest-rank value; None when the
    * sample count is too small for any percentile to qualify.
    */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= beyond => (p, s(rank - 1)) }
  }

  /** A timing summary: median, quartiles, tail percentile and sample count. */
  final case class Summary(n: Int, median: Double, q1: Double, q3: Double,
      tail: Option[(Int, Double)]) {
    def json: String = {
      val t = tail.fold("null")(pv => s"""{"p":${pv._1},"value":${Json.num(pv._2)}}""")
      s"""{"n":$n,"median":${Json.num(median)},"q1":${Json.num(q1)},""" +
        s""""q3":${Json.num(q3)},"tail_percentile":$t}"""
    }
  }

  def summary(xs: Seq[Double]): Summary = {
    val (q1, q2, q3) = quartiles(xs)
    Summary(xs.length, q2, q1, q3, tailPercentile(xs))
  }

  /** A ratio printed with its base: value = num / base. */
  final case class Ratio(num: Double, base: Double, numName: String, baseName: String) {
    def value: Double = if (base == 0.0) 0.0 else num / base
    def json: String =
      s"""{"value":${Json.num(value)},"num":${Json.num(num)},"num_is":"$numName",""" +
        s""""base":${Json.num(base)},"base_is":"$baseName"}"""
  }
}

/** Minimal JSON rendering for the result records (no JSON library ships
  * with the engine's classpath that the benchmark may rely on).
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

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
    b.result()
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated quantile (the numpy/`statistics` "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile level $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest quantile level, at most `wanted`, that leaves at least
    * `beyond` samples above it: `min(wanted, 1 - beyond / n)`. `None` when
    * even the median would have fewer than `beyond` samples beyond it, so a
    * tail figure over too few samples is never reported as if it were one.
    */
  def tailLevel(n: Int, wanted: Double = 0.9, beyond: Int = 10): Option[Double] = {
    if (n <= 0) None
    else {
      val level = math.min(wanted, 1.0 - beyond.toDouble / n)
      if (level < 0.5) None else Some(level)
    }
  }

  /** Summary of one latency sample set: the median and the tail quantile
    * chosen by [[tailLevel]], with the sample count they rest on.
    */
  final case class Summary(n: Int, p50: Double, tailLevel: Option[Double], tail: Option[Double]) {
    def json: Json.Obj = Json.obj(
      "n" -> n, "p50" -> p50,
      "tail_level" -> tailLevel.map(Json.num).getOrElse(Json.Null),
      "tail" -> tail.map(Json.num).getOrElse(Json.Null))
  }

  def summarize(xs: Seq[Double], wanted: Double = 0.9): Summary = {
    val level = tailLevel(xs.size, wanted)
    Summary(xs.size, median(xs), level, level.map(quantile(xs, _)))
  }
}

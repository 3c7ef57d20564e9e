package graftbench

object Stats {
  /** The tail percentile is the highest rung of this ladder that leaves at
    * least [[MinBeyond]] samples above it.
    */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank index of percentile `p` among `n` sorted samples. */
  def rank(n: Int, p: Double): Int = math.max(0, math.ceil(p / 100 * n - 1e-9).toInt - 1)

  /** Samples strictly above the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - 1 - rank(n, p)

  /** Highest ladder percentile with at least [[MinBeyond]] samples beyond
    * it among `n`, if any.
    */
  def tailPercentile(n: Int): Option[Double] = Ladder.find(p => beyond(n, p) >= MinBeyond)

  /** The median pass: the sum over ops of each op's median latency. A
    * burst of host load slows the calls it overlaps, in whichever pass
    * they fall. Each op's median holds while fewer than half of that op's
    * calls are slowed, so bursts that touch most passes once leave this
    * figure, where the median of whole-pass walls would take a slowed
    * pass. Failed samples are left out, as in [[Sample.latencies]].
    */
  def medianPass(samples: Seq[Sample]): Double = {
    val byOp = samples.filter(_.ok).groupBy(_.key)
    require(byOp.nonEmpty, "median pass of no samples")
    byOp.values.map(ss => median(ss.map(_.wallS))).sum
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p))
  }
}

/** One timed op call: `wallS` covers the call into the engine and the
  * digest action over its result.
  */
final case class Sample(key: String, wallS: Double, ok: Boolean)

object Sample {
  /** Latency samples of a pass: a failed op contributes none, so a
    * breakage can never read as a speed-up.
    */
  def latencies(samples: Seq[Sample]): Seq[Double] = samples.filter(_.ok).map(_.wallS)
}

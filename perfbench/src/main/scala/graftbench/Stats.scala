package graftbench

/** The benchmark's arithmetic, kept pure so [[SelfTest]] can check it
  * on synthetic inputs: percentiles, interval unions, span self time
  * and core utilisation. */
object Stats {

  /** Percentile by linear interpolation between closest ranks (the
    * "inclusive" method: p=0 is the minimum, p=100 the maximum). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.size
  }

  /** Total length covered by a set of half-open intervals
    * `[start, end)`; overlaps count once. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of `[start, end)` not covered by any of `children`
    * (each clipped to the parent first). */
  def uncovered(start: Double, end: Double,
      children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    }
    math.max(0.0, (end - start) - unionLength(clipped))
  }

  /** A timed interval in a trace tree. */
  final case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, op: Long) {
    def length: Double = end - start
  }

  /** Self time per span name: each span's length minus the union of
    * its direct children's intervals, summed per name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        uncovered(s.start, s.end,
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum
    }
  }

  /** Share of the available core time that tasks used:
    * Σ task time ÷ (Σ op wall time × cores). */
  def busyRatio(taskMs: Double, opWallMs: Double, cores: Int): Double = {
    require(cores > 0, "cores must be positive")
    if (opWallMs <= 0) 0.0 else taskMs / (opWallMs * cores)
  }
}

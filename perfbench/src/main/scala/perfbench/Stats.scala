package perfbench

import scala.util.Random

/** The benchmark's own arithmetic: percentiles, span self time, the open-loop
  * arrival schedule and its lateness/backlog accounting. Pure functions, so
  * `StatsSpec` pins them without a Spark session. */
object Stats {

  /** Nearest-rank percentile (`p` in [0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt
    s(math.max(0, math.min(s.length - 1, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of [[TailLadder]] that leaves at least `beyond`
    * samples above it in a sample of `n`; the median when none does, so a
    * tiny sample still reports a value, never a fabricated tail. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailLadder.find(p => n - math.ceil(p * n).toInt >= beyond).getOrElse(0.5)

  /** (percentile used, value) for the tail of `xs` under [[tailPercentile]]. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val p = tailPercentile(xs.length, beyond)
    (p, if (p == 0.5) median(xs) else percentile(xs, p))
  }

  /** A traced interval; `parent` links a span to the one that caused it. */
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of its interval that its direct
    * children cover (children clipped to the parent; overlaps counted once). */
  def selfTimeNs(span: Span, all: Seq[Span]): Long = {
    val covered = all.filter(_.parent == span.id).map { c =>
      (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs))
    }
    span.durNs - unionLength(covered)
  }

  /** Arrival offsets (ms from the schedule's start) of `n` events of a
    * Poisson process over `[0, windowMs)`, conditioned on the count: sorted
    * uniform points. Fixing the count keeps the offered load identical across
    * seeds, while the gaps stay exponential-like, so the phase between the
    * arrivals and a trigger grid does not set the result. */
  def poissonSchedule(seed: Long, n: Int, windowMs: Double): IndexedSeq[Double] = {
    require(n >= 0 && windowMs > 0.0, s"bad schedule n=$n window=$windowMs")
    val r = new Random(seed)
    IndexedSeq.fill(n)(r.nextDouble() * windowMs).sorted
  }

  /** How late an open-loop generator ran: per event `actual - scheduled` (ms),
    * clamped at 0 (early is not possible for a sleeper, only rounding). */
  def lateness(scheduledMs: Seq[Double], actualMs: Seq[Double]): Seq[Double] = {
    require(scheduledMs.length == actualMs.length, "schedule/actual length mismatch")
    scheduledMs.zip(actualMs).map { case (s, a) => math.max(0.0, a - s) }
  }

  /** Largest number of landed-but-uncommitted items seen by any arrival or
    * commit: the source backlog an open loop built up. `landedMs(i)` is when
    * item i became visible, `committedMs(i)` when the commit holding it
    * returned (None = never committed, counted as outstanding to the end). */
  def backlogMax(landedMs: Seq[Double], committedMs: Seq[Option[Double]]): Int = {
    require(landedMs.length == committedMs.length, "landed/committed length mismatch")
    // +1 at landing, -1 at commit; a commit at the same instant as a landing
    // is applied first (the item was not outstanding at that instant)
    val evs = landedMs.map(t => (t, 1)) ++ committedMs.flatten.map(t => (t, -1))
    var cur = 0
    var best = 0
    evs.sortBy { case (t, d) => (t, d) }.foreach { case (_, d) =>
      cur += d
      best = math.max(best, cur)
    }
    best
  }
}

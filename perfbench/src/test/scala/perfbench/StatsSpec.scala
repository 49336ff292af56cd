package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Stats._

class StatsSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(tailPercentile(200) == 0.95)  // 200 - 190 = 10 beyond p95
    assert(tailPercentile(199) == 0.9)   // 199 - 190 = 9 beyond p95; 199 - 180 = 19 beyond p90
    assert(tailPercentile(1000) == 0.99)
    assert(tailPercentile(10000) == 0.999)
    assert(tailPercentile(40) == 0.75)
    assert(tailPercentile(20) == 0.5)
    assert(tailPercentile(19) == 0.5)    // nothing qualifies: report the median
    assert(tailPercentile(3) == 0.5)
  }

  test("tail value is the nearest-rank percentile, or the median for small samples") {
    val xs = (1 to 200).map(_.toDouble)
    assert(tail(xs) == ((0.95, 190.0)))
    assert(tail(Seq(3.0, 1.0, 2.0, 4.0)) == ((0.5, 2.5)))
    assert(percentile(Seq(5.0), 0.99) == 5.0)
    assert(median(Seq(1.0, 9.0, 5.0)) == 5.0)
    assertThrows[IllegalArgumentException](median(Nil))
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val parent = Span(1, 0, "trigger", 0, 100)
    val all = Seq(parent,
      Span(2, 1, "job", 10, 40),
      Span(3, 1, "job", 30, 50),    // overlaps the first child: counted once
      Span(4, 1, "job", 90, 130),   // runs past the parent: clipped to 90..100
      Span(5, 2, "stage", 10, 40),  // a grandchild: not subtracted from the parent
      Span(6, 9, "job", 0, 100))    // another parent's child
    assert(selfTimeNs(parent, all) == 100 - 40 - 10)
    assert(selfTimeNs(Span(2, 1, "job", 10, 40), all) == 0)
    assert(selfTimeNs(Span(7, 0, "leaf", 5, 25), all) == 20)
  }

  test("union length merges overlapping and touching intervals") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 31L))) == 21)
    assert(unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
    assert(unionLength(Nil) == 0)
  }

  test("the Poisson schedule is identical for a seed and differs across seeds") {
    val a = poissonSchedule(7L, 250, 10000.0)
    assert(a == poissonSchedule(7L, 250, 10000.0))
    assert(a != poissonSchedule(8L, 250, 10000.0))
    assert(a.size == 250)
    assert(a == a.sorted)
    assert(a.forall(t => t >= 0.0 && t < 10000.0))
    // exponential-like gaps: not a fixed period
    val gaps = a.zip(a.tail).map { case (x, y) => y - x }
    assert(gaps.max > 4 * gaps.sum / gaps.size)
  }

  test("generator lateness is actual minus scheduled, never negative") {
    assert(lateness(Seq(0.0, 100.0, 200.0), Seq(1.0, 99.5, 260.0)) == Seq(1.0, 0.0, 60.0))
    assertThrows[IllegalArgumentException](lateness(Seq(1.0), Nil))
  }

  test("backlog counts landed items whose commit has not returned") {
    // landed at 0, 10, 20; the first two committed at 30, the third at 40
    assert(backlogMax(Seq(0.0, 10.0, 20.0), Seq(Some(30.0), Some(30.0), Some(40.0))) == 3)
    // each committed before the next lands
    assert(backlogMax(Seq(0.0, 10.0, 20.0), Seq(Some(5.0), Some(15.0), Some(25.0))) == 1)
    // a commit at the instant of a landing is applied first
    assert(backlogMax(Seq(0.0, 10.0), Seq(Some(10.0), Some(12.0))) == 1)
    // never committed: outstanding to the end
    assert(backlogMax(Seq(0.0, 1.0, 2.0), Seq(Some(1.5), None, None)) == 2)
  }
}

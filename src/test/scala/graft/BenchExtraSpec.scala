package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {
  private val all = Seq("b_query", "a_query")

  test("parseArgs: numeric first argument is the repeat count") {
    assert(BenchExtra.parseArgs(Seq("3", "x", "y"), all) == (3, Seq("x", "y")))
    assert(BenchExtra.parseArgs(Seq("2"), all) == (2, Seq("a_query", "b_query")))
  }

  test("parseArgs: non-numeric first argument is a query name, repeats = 1") {
    assert(BenchExtra.parseArgs(Seq("mm_clip_detect"), all) == (1, Seq("mm_clip_detect")))
    assert(BenchExtra.parseArgs(Seq("x", "y"), all) == (1, Seq("x", "y")))
  }

  test("parseArgs: no arguments run every query once, sorted") {
    assert(BenchExtra.parseArgs(Nil, all) == (1, Seq("a_query", "b_query")))
  }

  test("parseArgs: a repeat count below one is rejected") {
    intercept[IllegalArgumentException](BenchExtra.parseArgs(Seq("0", "x"), all))
    intercept[IllegalArgumentException](BenchExtra.parseArgs(Seq("-2"), all))
  }
}

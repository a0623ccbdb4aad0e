package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is never timed and totalled as if it had run:
  * the bench names it in `failed` and `main` exits nonzero. */
class BenchTimingSpec extends AnyFunSuite {

  test("a throwing query lands in failed and gets no time") {
    val failed = mutable.Set.empty[String]
    assert(Bench.timeQuery("boom", failed)(
      throw new IllegalStateException("planted")).isEmpty)
    assert(failed === Set("boom"))
    assert(Bench.timeQuery("fine", failed)(()).exists(_ >= 0.0))
    assert(failed === Set("boom"), "a query that ran is not failed")
  }
}

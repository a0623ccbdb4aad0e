package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.percentile(xs, Stats.TailPercentile) - 9.1) < 1e-12)
    assert(Stats.percentile(Seq(4.0), 90) == 4.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0)
  }

  test("the tail is the 90th percentile of a run's ops, not its maximum") {
    val walls = Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 3.0, 10.0)
    assert(math.abs(Stats.percentile(walls, Stats.TailPercentile) - 3.7) < 1e-12)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("fingerprints ignore row order and see every column") {
    val rows = Array(Row(1, "a", 2.5, Seq(1, 2)), Row(2, null, 0.1, Seq()), Row(3, "c", -0.0, Seq(3)))
    assert(Fingerprint.of(rows) == Fingerprint.of(rows.reverse))
    val changed = rows.updated(1, Row(2, null, 0.1000001, Seq()))
    assert(Fingerprint.of(rows) != Fingerprint.of(changed))
    assert(Fingerprint.of(rows).rows == 3)
  }
}

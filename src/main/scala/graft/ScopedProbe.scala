package graft

import scala.jdk.CollectionConverters._

/** Per-execution wall probe for a single declared query — the
  * adjudication tool behind round-14's `graph_pagerank_weighted`
  * verdict item. A scoped `Bench` reports the median of 3 interleaved
  * sweeps, which SAMPLES the JVM's tiered-compilation warm-up curve at
  * whatever maturity the sweep composition happens to provide; when a
  * round's sweep changes (new queries, faster upstream queries paying
  * less shared warm-up), a query's median can move ±1 s with
  * bit-identical shuffle and untouched code. This main runs ONE query
  * N times back-to-back in a single JVM and prints every wall plus the
  * per-run GC time, so the curve itself is visible: a code regression
  * shifts the whole curve (steady state included); a sampling artifact
  * leaves steady state unchanged. (r14 finding: the weighted-PageRank
  * "drift" was 23.0 s cold → 1.9 s steady over ~7 executions, GC ≤ 2 s
  * per run — steady state BELOW every full-sweep reading ever
  * recorded, code bit-identical since r12.)
  *
  * Usage: runMain graft.ScopedProbe <queryName> [n] [sfDir] [stages]
  * A 4th arg "stages" attaches [[StageProbe]] — one line per completed
  * stage (wall / taskSum / shuffle / spill), the root-cause layer under
  * the per-execution curve.
  * Standing `ensure*` state is warmed exactly like Bench's pre-sweep
  * block, so run 1 is codegen-cold but index-warm. Session geometry
  * ([[Harness.session]]) and the timed action
  * (`.count()`) are Bench's own, so probe walls are the SAME metric as
  * the sweep medians they adjudicate — a `.collect()` here would add
  * driver-side result serialization and let Catalyst prune differently.
  */
object ScopedProbe {

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScopedProbe <queryName> [n] [sfDir]")
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 8
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — see SparkEntry.declaredNames"))
    val spark = Harness.session()
    if (args.length > 3 && args(3) == "stages")
      spark.sparkContext.addSparkListener(new StageProbe)
    Bench.warmStandingState(spark, sfDir)
    val walls = (1 to n).map { i =>
      val g0 = gcMs
      val t0 = System.nanoTime()
      fn(spark, sfDir).count() // Bench's timed action, not collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"run $i%2d: $dt%7.3f s  gc=${gcMs - g0}%5d ms")
      dt
    }
    val steady = walls.takeRight(math.min(3, n)).min
    // The probe's OWN harness floor, measured in the same JVM right
    // after the runs: walls are floor + work, and the floor is a pure
    // function of machine load that drifts between rounds (r16: 0.115
    // → 0.149 s between the r15 and r16 clean maps — enough to push a
    // flat 0.45 s query past a 10% wall threshold with zero code
    // change). Publishing it lets adjudicate_bench judge WORK against
    // work instead of wall against wall.
    val floor = {
      val fs = (1 to 5).map(_ => Bench.floorProbeOnce(spark, sfDir)).sorted
      fs(fs.length / 2)
    }
    println(f"probe floor: $floor%.3f s (median of 5)")
    println(f"$name: cold=${walls.head}%.3f s, steady(min of last 3)=" +
      f"$steady%.3f s over $n runs")
    spark.stop()
  }
}

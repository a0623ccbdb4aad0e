package graft.core

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** The width policy's formulas at deployment-scale volumes. Pure inputs,
  * no data: at fixture scale every lever clamps to 1, so these are the
  * only checks that reach the cap and the provisioned branch. */
class WidthSpec extends SparkSuite {

  test("spread: one task per 500k rows, floor 1, capped") {
    assert(Width.spread(0L, 32L) === 1)
    assert(Width.spread(499999L, 32L) === 1)
    assert(Width.spread(500000L, 32L) === 2)
    assert(Width.spread(1000000000L, 32L) === 32)     // session cap binds
    assert(Width.spread(1000000000L, 4L * 32) === 128) // 4× range cap
    assert(Width.spread(1000000000L, 4000L) === 2001)  // volume binds
    assert(Width.spread(1000000000L, 0L) === 1)        // floor of 1
  }

  test("provision: one task per 500k rows, never below the session") {
    assert(Width.provision(0L, 32L) === 32)
    assert(Width.provision(499999L, 4L) === 4)
    assert(Width.provision(500000L, 0L) === 1)
    assert(Width.provision(1000000000L, 32L) === 2000)
    assert(Width.provision(1000000000L, 4000L) === 4000)
  }

  test("session-width lever: the cap is the session's shuffle width") {
    assert(Width.sessionWidth(spark) === 8L)
    assert(Width.spread(1000000000L, Width.sessionWidth(spark)) === 8)
  }

  test("pinned: child plans at width p with coalescing off; parent " +
      "conf untouched") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val parentCoalesce = spark.conf.getOption(key)
    val child = Width.pinned(spark, 3)
    assert(Width.sessionWidth(child) === 3L)
    assert(child.conf.get(key) === "false")
    assert(Width.sessionWidth(spark) === 8L)
    assert(spark.conf.getOption(key) === parentCoalesce)
  }

  test("byKeys: small sources spread to one task; windowFits holds") {
    val df = spark.range(1000).toDF("id")
    assert(Width.byKeys(df, col("id")).rdd.getNumPartitions === 1)
    assert(Width.windowFits(df))
  }

  test("rows: footer count of dir/table, memoized") {
    val n = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(Width.rows(spark, sfDir, "lineitem") === n)
    assert(Width.rows(spark, sfDir, "lineitem") === n)
  }
}

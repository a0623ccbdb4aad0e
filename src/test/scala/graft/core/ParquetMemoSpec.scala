package graft.core

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite

/** Build-once semantics of the parquet memoizer behind the synthetic
  * media corpora and other derived datasets. */
class ParquetMemoSpec extends SparkSuite {

  test("second ensure() serves the cache: the builder runs exactly once") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val src = s"$sfDir/documents.parquet"
    val tag = "memospec_" + System.nanoTime()
    def build = {
      builds.incrementAndGet()
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val p1 = ParquetMemo.ensure(src, tag, "v1")(build)
    val p2 = ParquetMemo.ensure(src, tag, "v1")(build)
    assert(p1 == p2)
    assert(builds.get() == 1, "cache hit must not re-run the builder")
    val got = spark.read.parquet(p1).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("partitioned and flat builds of the same (src, tag, version) " +
      "never collide; partitionCols participate in the fingerprint") {
    import spark.implicits._
    val src = s"$sfDir/documents.parquet"
    val tag = "memospec_part_" + System.nanoTime()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "cell")
    val flat = ParquetMemo.ensure(src, tag, "v1")(df)
    val part = ParquetMemo.ensurePartitioned(src, tag, "v1", Seq("cell"))(df)
    assert(flat != part,
      "same (src, tag, version) must not serve a flat build to a " +
        "partitioned caller")
    // the partitioned layout really is directory-partitioned
    assert(new java.io.File(part).listFiles()
      .exists(_.getName.startsWith("cell=")), "expected cell=... dirs")
    // and different partitionCols are different layouts too
    val part2 =
      ParquetMemo.ensurePartitioned(src, tag, "v1", Seq("id"))(df)
    assert(part2 != part)
  }

  test("version bump invalidates the cache and sweeps the stale build") {
    import spark.implicits._
    val src = s"$sfDir/documents.parquet"
    val tag = "memospec_ver_" + System.nanoTime()
    val p1 = ParquetMemo.ensure(src, tag, "v1")(Seq(1L).toDF("x"))
    assert(new java.io.File(p1, "_SUCCESS").exists())
    val p2 = ParquetMemo.ensure(src, tag, "v2")(Seq(2L).toDF("x"))
    assert(p1 != p2, "changed version must map to a fresh path")
    // the superseded fingerprint of the same (source, tag) is swept
    assert(!new java.io.File(p1).exists(),
      "stale sibling should have been reclaimed")
    assert(spark.read.parquet(p2).as[Long].collect().toSeq == Seq(2L))
  }

  test("the stale-build sweep takes only its own tag: building tag t " +
      "leaves tag t_x's build in place") {
    import spark.implicits._
    val src = s"$sfDir/documents.parquet"
    val t = "memospec_sweep_" + System.nanoTime()
    val builds = new AtomicInteger(0)
    def buildX = { builds.incrementAndGet(); Seq(1L).toDF("x") }
    val px = ParquetMemo.ensure(src, t + "_x", "v1")(buildX)
    ParquetMemo.ensure(src, t, "v1")(Seq(2L).toDF("x"))
    assert(new java.io.File(px, "_SUCCESS").exists(),
      "a shorter tag's build swept a longer tag's memo")
    assert(ParquetMemo.ensure(src, t + "_x", "v1")(buildX) == px)
    assert(builds.get() == 1, "t_x was rebuilt after building t")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query that throws is named, so `Verify` exits nonzero, and no
  * output of an earlier run survives for the oracle to pass. */
class VerifySpec extends SparkSuite {

  test("a throwing query is named and leaves no stale output behind") {
    val out = Files.createTempDirectory("graft_verify")
    try {
      val stale = Files.createDirectories(out.resolve("boom"))
      Files.write(stale.resolve("part-0.parquet"), Array[Byte](1))
      val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        "boom" -> ((_, _) => throw new IllegalStateException("planted")),
        "fine" -> ((s, _) => s.range(3).toDF()))
      assert(Verify.writeResults(spark, sfDir, out.toString, queries) ===
        Seq("boom"))
      assert(!Files.exists(stale), "the failed query's old output survived")
      assert(spark.read.parquet(out.resolve("fine").toString).count() === 3L)
    } finally core.ParquetMemo.deleteRecursively(out.toFile)
  }
}

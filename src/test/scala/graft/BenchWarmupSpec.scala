package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r12 shuffle-misattribution fix, gated: in a FRESH environment a
  * standing index does not exist yet, and before round 13 its one-time
  * build ran inside the first timed query attempt — the driver's r12
  * artifact recorded 4.03 MB of build shuffle on `text_search_indexed`
  * against the committed map's 0.15 MB, corrupting the deterministic
  * shuffle signal that round-over-round adjudication depends on. Bench
  * now warms every `ensure*` entry point before sweep 1; this spec
  * plants a COLD memo (fresh `graft.memo.root`, so `ensureTextIndex*`
  * cannot find any prior build) and asserts that after the warm-up
  * call, two consecutive query executions attribute the SAME shuffle
  * bytes — i.e. the build cost all landed in the warm-up, none in the
  * first "timed" run. */
class BenchWarmupSpec extends AnyFunSuite with SparkSuite {

  /** Run `body`, return the shuffle bytes its stages wrote, read from
    * `core.SparkEvents` after a drain. (This suite relies on sbt's
    * default sequential forked-test execution — the shared SparkSession
    * and the `graft.memo.root` patch below are not safe under parallel
    * suites.) */
  private def shuffleOf(body: => Unit): Long =
    core.SparkEvents.during(spark.sparkContext)(body)._2.shuffleWriteBytes

  test("planted cold memo: after warm-up, a fresh-env query run " +
      "attributes the same shuffle as a warm one (no build leakage)") {
    val freshTmp = java.nio.file.Files
      .createTempDirectory("graft_cold_env").toString
    try {
      // plant the cold environment through ParquetMemo's dedicated
      // root property — NOT java.io.tmpdir, which other JVM machinery
      // (Spark temp dirs, NIO) reads concurrently
      sys.props("graft.memo.root") = freshTmp
      // the Bench warm-up step: the COLD build happens here and must
      // shuffle something (tokenize + postings groupBys)
      val buildShuffle = shuffleOf {
        ext.Search.ensureTextIndexIncremental(spark, sfDir): Unit
      }
      assert(buildShuffle > 0, "cold index build must do real work")
      // two consecutive "timed" runs of the declared query path
      def runQuery(): Unit = ext.Search.rankedSearchIndexed(spark,
        ext.Search.ensureTextIndexIncremental(spark, sfDir),
        Seq("vector", "hash", "join"), 20).collect(): Unit
      val first = shuffleOf(runQuery())
      val second = shuffleOf(runQuery())
      // the first post-warm-up run carries NO build residue: identical
      // shuffle to the second (both probe the standing artifact), and
      // strictly below the build itself
      assert(first === second,
        s"fresh-env first run attributed extra shuffle: $first vs $second")
      assert(first < buildShuffle,
        s"query shuffle $first should be below build shuffle $buildShuffle")
    } finally {
      sys.props.remove("graft.memo.root"): Unit
      // the planted cold environment accumulates a built index per run
      // — delete it rather than leaking one per test execution
      core.ParquetMemo.deleteRecursively(new java.io.File(freshTmp))
    }
  }
}

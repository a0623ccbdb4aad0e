package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
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

  private final class ShuffleListener extends SparkListener {
    val bytes = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
    }
  }

  /** Run `body`, return the shuffle bytes its stages wrote. Listener
    * events are async, so drain the listener bus before each reading.
    * (This suite relies on sbt's default sequential forked-test
    * execution — the shared SparkSession and the `graft.memo.root`
    * patch below are not safe under parallel suites.) */
  private def settle(l: ShuffleListener): Long = {
    org.apache.spark.graftbridge.ListenerDrain(spark.sparkContext)
    l.bytes.get
  }

  private def shuffleOf(l: ShuffleListener)(body: => Unit): Long = {
    val before = settle(l)
    body
    settle(l) - before
  }

  test("planted cold memo: after warm-up, a fresh-env query run " +
      "attributes the same shuffle as a warm one (no build leakage)") {
    val freshTmp = java.nio.file.Files
      .createTempDirectory("graft_cold_env").toString
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // plant the cold environment through ParquetMemo's dedicated
      // root property — NOT java.io.tmpdir, which other JVM machinery
      // (Spark temp dirs, NIO) reads concurrently
      sys.props("graft.memo.root") = freshTmp
      // the Bench warm-up step: the COLD build happens here and must
      // shuffle something (tokenize + postings groupBys)
      val buildShuffle = shuffleOf(listener) {
        ext.Search.ensureTextIndexIncremental(spark, sfDir): Unit
      }
      assert(buildShuffle > 0, "cold index build must do real work")
      // two consecutive "timed" runs of the declared query path
      def runQuery(): Unit = ext.Search.rankedSearchIndexed(spark,
        ext.Search.ensureTextIndexIncremental(spark, sfDir),
        Seq("vector", "hash", "join"), 20).collect(): Unit
      val first = shuffleOf(listener)(runQuery())
      val second = shuffleOf(listener)(runQuery())
      // the first post-warm-up run carries NO build residue: identical
      // shuffle to the second (both probe the standing artifact), and
      // strictly below the build itself
      assert(first === second,
        s"fresh-env first run attributed extra shuffle: $first vs $second")
      assert(first < buildShuffle,
        s"query shuffle $first should be below build shuffle $buildShuffle")
    } finally {
      sys.props.remove("graft.memo.root"): Unit
      spark.sparkContext.removeSparkListener(listener)
      // the planted cold environment accumulates a built index per run
      // — delete it rather than leaking one per test execution
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(freshTmp)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    }
  }
}

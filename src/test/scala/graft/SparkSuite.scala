package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single SparkSession across all suites (one JVM via Test/fork). */
trait SparkSuite extends AnyFunSuite {
  // per-SUITE lazy val (stable identifier, so `import spark.implicits._`
  // keeps compiling): each suite's first test pulls the CURRENT shared
  // session, so a context stopped mid-run poisons at most the suite in
  // flight instead of every remaining one (the r17 driver-run failure)
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, with the listener bus drained
    * on both sides so no event is missed or carried over. For specs that
    * pin a job budget: where the work is driver round-trips, not data,
    * the job count is the latency. */
  def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSuite {
  @volatile private var current: SparkSession = _

  /** The shared session, REBUILT if its SparkContext was stopped out
    * from under the suites (an executor-thread fatal error or an
    * external signal runs SparkShutdownHookManager mid-run; the old
    * lazy val then poisoned every remaining suite — the
    * VERIFY_r17 `tests_ok: false` tail). getOrCreate would hand back
    * the same dead context unless the active/default registrations are
    * cleared first. */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = SparkSession.builder()
        .master("local[8]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      current = s
    }
    current
  }
}

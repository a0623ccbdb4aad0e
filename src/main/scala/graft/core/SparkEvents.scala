package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.ListenerDrain

/** The one Spark-event listener: a row per completed stage attempt plus
  * a count of job starts, for Bench, the probes and the specs' job
  * budgets. Events arrive asynchronously, so every reading drains the
  * listener bus first. */
final class SparkEvents private (sc: SparkContext) extends SparkListener {
  import SparkEvents._

  private var jobs = 0
  private var stages = Vector.empty[StageRow]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) synchronized {
      stages :+= StageRow(i.stageId, i.attemptNumber(),
        i.name.takeWhile(_ != '\n'), i.numTasks,
        i.submissionTime.zip(i.completionTime)
          .fold(-1.0) { case (s, c) => (c - s) / 1e3 },
        m.executorRunTime / 1e3, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Everything recorded since [[SparkEvents.attach]], after a drain. */
  def reading(): Reading = {
    ListenerDrain(sc)
    synchronized(Reading(jobs, stages))
  }
}

object SparkEvents {

  /** One completed stage attempt: wall and task-time sum in seconds,
    * shuffle and spill in bytes. */
  final case class StageRow(stageId: Int, attempt: Int, name: String,
      tasks: Int, wallS: Double, taskS: Double, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  final case class Reading(jobs: Int, stages: Vector[StageRow]) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum

    /** What the same recorder saw after `earlier`. */
    def since(earlier: Reading): Reading =
      Reading(jobs - earlier.jobs, stages.drop(earlier.stages.size))
  }

  /** A recorder on `sc`, attached after a drain so no event posted
    * before this call reaches it. */
  def attach(sc: SparkContext): SparkEvents = {
    ListenerDrain(sc)
    val events = new SparkEvents(sc)
    sc.addSparkListener(events)
    events
  }

  /** `body`'s result and what a recorder attached around it saw. */
  def during[T](sc: SparkContext)(body: => T): (T, Reading) = {
    val events = attach(sc)
    try {
      val out = body
      (out, events.reading())
    } finally sc.removeSparkListener(events)
  }
}

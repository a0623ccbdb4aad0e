package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans around calls into the engine's layers. Spans nest on
  * one thread (the benchmark's client thread); a span's self time is its
  * wall minus the walls of its direct children. Disabled, `span` is a
  * plain call. */
final class Tracer(var enabled: Boolean) {

  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private var nextId = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(nextId, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime())
      nextId += 1
      open.push(s)
      try f
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        done += s
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Wall of span `id` minus the walls of its direct children. */
  def selfSeconds(id: Int): Double = {
    val s = done.find(_.id == id).getOrElse(
      throw new NoSuchElementException(s"no closed span $id"))
    s.seconds - done.filter(_.parent == id).map(_.seconds).sum
  }
}

/** Per-job-group Spark activity: jobs, stages, tasks and their task
  * metrics, attributed through the job group the benchmark thread set
  * before the op (`spark.jobGroup.id` travels in each job's
  * properties). Stage and task events carry no group, so they are
  * mapped through the stage ids each job declared at start. */
final class OpListener extends SparkListener {
  import OpListener.GroupStats

  final case class Job(group: String, submitMs: Long)
  final class StageAgg(val group: String) {
    var submitMs = -1L
    var completeMs = -1L
    var completed = false
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stages = mutable.Map[(Int, Int), StageAgg]()

  private def agg(stageId: Int, attempt: Int): Option[StageAgg] =
    stageGroup.get(stageId).map(g =>
      stages.getOrElseUpdate((stageId, attempt), new StageAgg(g)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(group, e.time)
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    agg(i.stageId, i.attemptNumber()).foreach(a =>
      a.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    agg(i.stageId, i.attemptNumber()).foreach { a =>
      if (a.submitMs < 0) a.submitMs = i.submissionTime.getOrElse(-1L)
      a.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      a.completed = true
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    agg(e.stageId, e.stageAttemptId).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** What job group `g` did. Jobs submitted before `eagerBeforeMs`
    * count as eager: they ran while the query was being constructed. */
  def group(g: String, eagerBeforeMs: Long = Long.MinValue): GroupStats = synchronized {
    val js = jobs.filter(_.group == g)
    val ss = stages.values.filter(a => a.group == g && a.completed).toSeq
    GroupStats(
      jobs = js.size,
      eagerJobs = js.count(_.submitMs < eagerBeforeMs),
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      taskSeconds = ss.map(_.taskMs).sum / 1e3,
      gcSeconds = ss.map(_.gcMs).sum / 1e3,
      shuffleWriteBytes = ss.map(_.shuffleWrite).sum,
      shuffleReadBytes = ss.map(_.shuffleRead).sum,
      spillBytes = ss.map(_.spill).sum,
      stageUnionSeconds =
        Stats.unionLength(ss.map(a => (a.submitMs, a.completeMs))) / 1e3)
  }
}

object OpListener {
  final case class GroupStats(jobs: Int, eagerJobs: Int, stages: Int,
      tasks: Int, taskSeconds: Double, gcSeconds: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      stageUnionSeconds: Double)
}

package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-metric sums of one operation (one Spark job group). */
final class OpStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var firstJobStart = Long.MaxValue
  var lastJobEnd = 0L
  /** stage id -> task durations (ms), kept only when spans are on */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** One span of the operation → job → stage → task tree (wall-clock ms). */
final case class Span(kind: String, id: String, parent: String, startMs: Long, endMs: Long)

/** Sums executor task metrics per job group: the driver names each
  * operation's group, so CPU is attributed from task metrics rather than
  * from process-CPU deltas. With `spans` on it also records the
  * job/stage/task span tree.
  */
final class OpListener extends SparkListener {
  /** Record the span tree (traced runs only). */
  @volatile var spans = false
  private val byGroup = new ConcurrentHashMap[String, OpStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()
  val spanLog = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageStart = new ConcurrentHashMap[Int, java.lang.Long]()

  private def stats(group: String): OpStats = byGroup.computeIfAbsent(group, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageJob.put(s, Int.box(e.jobId)))
      val s = stats(g)
      s.synchronized {
        s.jobs += 1
        s.firstJobStart = math.min(s.firstJobStart, e.time)
      }
      if (spans) jobStart.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    if (g != null) {
      val s = stats(g)
      s.synchronized { s.lastJobEnd = math.max(s.lastJobEnd, e.time) }
      if (spans) spanLog.add(Span("job", s"job-${e.jobId}", g, jobStart.getOrDefault(e.jobId, e.time), e.time))
    }
    endedJobs.add(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (spans) {
      val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageStart.put(e.stageInfo.stageId, t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (spans) {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val end: Long = info.completionTime.getOrElse(System.currentTimeMillis())
    val start: Long = Option(stageStart.get(info.stageId)).map(_.longValue).getOrElse(end)
    spanLog.add(Span("stage", s"stage-${info.stageId}", s"job-$job", start, end))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val g = if (job == null) null else jobGroup.get(job.intValue)
    if (g == null) return
    val s = stats(g)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) s.failedTasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        // the scheduler-delay formula of Spark's own UI
        s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
      if (spans) s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += info.duration
    }
    if (spans) spanLog.add(Span("task", s"task-${info.taskId}", s"stage-${e.stageId}", info.launchTime, info.finishTime))
  }

  /** Stats of a finished group, once the listener bus has delivered the end
    * event of every job the group ran (task ends always precede job ends).
    */
  def await(sc: org.apache.spark.SparkContext, group: String): OpStats = {
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobs.forall(j => endedJobs.contains(j)) && System.nanoTime() < deadline) Thread.sleep(2)
    require(jobs.forall(j => endedJobs.contains(j)), s"listener missed job ends of $group")
    byGroup.getOrDefault(group, new OpStats)
  }
}

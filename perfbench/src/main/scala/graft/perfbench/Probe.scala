package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One trace span. Times are epoch milliseconds (fractional). Levels:
  * 1 pass, 2 key or micro-batch, 3 build/plan/exec, 4 Spark job,
  * 5 Spark stage. */
final case class Span(id: Long, parent: Long, name: String, level: Int,
                      start: Double, end: Double,
                      attrs: mutable.LinkedHashMap[String, Any] =
                        mutable.LinkedHashMap.empty)

/** Task-metric totals for one attribution target (a key or a batch). */
final class Totals {
  var jobs = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
  var inBytes = 0L; var inRecords = 0L
  var shWriteBytes = 0L; var shReadBytes = 0L
  var shWriteNs = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L
  var outBytes = 0L; var outTasks = 0L

  def add(o: Totals): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; peakMem = math.max(peakMem, o.peakMem)
    inBytes += o.inBytes; inRecords += o.inRecords
    shWriteBytes += o.shWriteBytes; shReadBytes += o.shReadBytes
    shWriteNs += o.shWriteNs; fetchWaitMs += o.fetchWaitMs
    spillMem += o.spillMem; spillDisk += o.spillDisk
    outBytes += o.outBytes; outTasks += o.outTasks
  }
}

/** The benchmark's own SparkListener. Jobs are attributed through the
  * job group the driver sets around each key (`<pass>|<key>`); jobs that
  * a streaming micro-batch submits carry the batch id as a local property
  * and are attributed to `<group>#<batchId>`. All state is touched only
  * from the listener-bus thread until [[org.apache.spark.perfbench.BusShim.drain]]
  * returns, after which the driver reads it. */
final class Probe extends SparkListener {
  final case class JobRec(id: Int, target: String, start: Long, var end: Long)
  final case class StageRec(id: Int, job: Int, name: String,
                            start: Long, end: Long, totals: Totals)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val byTarget = mutable.HashMap.empty[String, Totals]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTotals = mutable.HashMap.empty[(Int, Int), Totals]

  def reset(): Unit = {
    jobs.clear(); stages.clear(); byTarget.clear()
    stageJob.clear(); stageTotals.clear()
  }

  private def targetOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(b => s"$g#$b").getOrElse(g)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = targetOf(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, t, e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    byTarget.getOrElseUpdate(t, new Totals).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val st = stageTotals.getOrElseUpdate((e.stageId, e.stageAttemptId), new Totals)
    val tot = stageJob.get(e.stageId).flatMap(jobs.get)
      .map(j => byTarget.getOrElseUpdate(j.target, new Totals))
    val ts = st +: tot.toSeq
    ts.foreach { t =>
      t.tasks += 1
      if (m != null) {
        t.taskMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime; t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.inBytes += m.inputMetrics.bytesRead; t.inRecords += m.inputMetrics.recordsRead
        t.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shWriteNs += m.shuffleWriteMetrics.writeTime
        t.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillMem += m.memoryBytesSpilled; t.spillDisk += m.diskBytesSpilled
        t.outBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.recordsWritten > 0) t.outTasks += 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val tot = stageTotals.remove((i.stageId, i.attemptNumber())).getOrElse(new Totals)
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), tot)
  }

  /** Sum of the totals of every target whose name satisfies `p`. */
  def sum(p: String => Boolean): Totals = {
    val t = new Totals
    byTarget.foreach { case (k, v) => if (p(k)) t.add(v) }
    t
  }

  /** Wall time covered by at least one running job (union of intervals)
    * among jobs whose target satisfies `p`, in seconds. */
  def jobWall(p: String => Boolean): Double = {
    val iv = jobs.values.filter(j => p(j.target)).map(j => (j.start, j.end))
      .toSeq.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

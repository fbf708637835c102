package distbench

import scala.collection.mutable

import com.codahale.metrics.Histogram
import org.apache.spark.SparkContext
import org.apache.spark.distbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for one traced call. Times are wall-clock epoch
  * milliseconds (the listener events' clock) unless the name says `Ns`. */
final class CallTrace(val id: Long) {
  var jobs = 0; var buildJobs = 0; var stages = 0; var tasks = 0
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val phaseSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L
  var scanRows = 0L; var scanBytes = 0L; var delayMs = 0L
  var rulesNs = 0L; var graftRulesNs = 0L
  var compiles = 0L; var compileMs = 0L
  var startMs = 0L; var buildEndMs = 0L; var endMs = 0L
  var outRows = 0L

  def phaseMs(name: String): Long = phaseSpans.collect { case (`name`, s, e) => e - s }.sum

  /** Self time per layer: each layer's covered interval minus the part its
    * children cover (tasks inside jobs, jobs inside catalyst/api spans). */
  def selfMs: Map[String, Long] = {
    import Intervals._
    val tasksU = union(clip(taskSpans.toSeq, startMs, endMs))
    val jobsU = union(clip(jobSpans.toSeq, startMs, endMs) ++ tasksU)
    val catU = union(clip(phaseSpans.toSeq.map(p => (p._2, p._3)), startMs, endMs) ++ jobsU)
    val inBuild = length(clip(catU, startMs, buildEndMs))
    Map(
      "exec" -> length(tasksU),
      "sched" -> (length(jobsU) - length(tasksU)),
      "catalyst" -> (length(catU) - length(jobsU)),
      "api" -> ((buildEndMs - startMs) - inBuild),
      "driver" -> ((endMs - buildEndMs) - (length(catU) - inBuild)))
  }
}

object Intervals {
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)

  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((ls, le) :: rest, (s, e)) if s <= le => (ls, math.max(le, e)) :: rest
      case (acc, p) => p :: acc
    }.reverse

  def length(iv: Seq[(Long, Long)]): Long = union(iv).map(p => p._2 - p._1).sum
}

/** Spark and query-execution listener that joins every job, stage and task
  * to the call that caused it through the call's job tag, and every
  * query-planning tracker to the call during which it ran. Attach it for a
  * traced pass only; untraced passes run with no listener of ours. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val calls = mutable.Map.empty[Long, CallTrace]
  private val stageCall = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobCall = mutable.Map.empty[Int, (Long, Long)] // job -> (call, start)
  private val pendingQes = mutable.ArrayBuffer.empty[QueryExecution]
  var untaggedJobs = 0

  def begin(id: Long): CallTrace = synchronized {
    val t = new CallTrace(id)
    calls(id) = t
    t.compiles = -compileCount
    t.compileMs = -compileSumMs
    sc.addJobTag(s"$CallTag$id")
    sc.addJobTag(BuildTag)
    t.startMs = System.currentTimeMillis()
    t
  }

  def built(t: CallTrace): Unit = {
    t.buildEndMs = System.currentTimeMillis()
    sc.removeJobTag(BuildTag)
  }

  /** Close the call: wait for its events, then fold in the planning
    * trackers of every query that ran since [[begin]]. */
  def end(t: CallTrace): CallTrace = {
    t.endMs = System.currentTimeMillis()
    if (t.buildEndMs == 0L) t.buildEndMs = t.endMs
    sc.removeJobTag(BuildTag)
    sc.removeJobTag(s"$CallTag${t.id}")
    BusDrain.drain(sc)
    synchronized {
      t.compiles += compileCount
      t.compileMs += compileSumMs
      pendingQes.foreach { qe =>
        val tr = qe.tracker
        tr.phases.foreach { case (name, p) => t.phaseSpans += ((name, p.startTimeMs, p.endTimeMs)) }
        tr.rules.foreach { case (rule, r) =>
          t.rulesNs += r.totalTimeNs
          if (rule.startsWith("graft.plans.")) t.graftRulesNs += r.totalTimeNs
        }
      }
      pendingQes.clear()
      calls.remove(t.id)
    }
    t
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { pendingQes += qe }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags: Seq[String] = Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey)))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val call: Option[(Long, CallTrace)] = tags
      .collectFirst { case s if s.startsWith(CallTag) => s.stripPrefix(CallTag).toLong }
      .flatMap(id => calls.get(id).map(t => (id, t)))
    call match {
      case Some((id, t)) =>
        t.jobs += 1
        if (tags.contains(BuildTag)) t.buildJobs += 1
        jobCall(e.jobId) = (id, e.time)
        e.stageIds.foreach(s => stageCall.getOrElseUpdate(s, id))
      case None => untaggedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobCall.remove(e.jobId).foreach { case (id, start) =>
      calls.get(id).foreach(_.jobSpans += ((start, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    stageCall.get(si.stageId).flatMap(calls.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).flatMap(calls.get).foreach { t =>
      val info = e.taskInfo
      t.tasks += 1
      t.taskSpans += ((info.launchTime, info.finishTime))
      stageSubmit.get(e.stageId).foreach(s => t.delayMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillMem += m.memoryBytesSpilled
        t.spillDisk += m.diskBytesSpilled
        t.scanRows += m.inputMetrics.recordsRead
        t.scanBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

object Tracer {
  val CallTag = "distbench-call-"
  val BuildTag = "distbench-build"
  /** The job property carrying `SparkContext.addJobTag` tags. */
  val JobTagsKey = "spark.job.tags"

  private def compileHist: Histogram = CodegenMetrics.METRIC_COMPILATION_TIME

  /** Whole-stage and expression compiles so far in this JVM. */
  def compileCount: Long = compileHist.getCount

  /** Sum of compile times (ms) so far. Exact while the histogram's
    * reservoir still holds every sample; an estimate from the mean after. */
  def compileSumMs: Long = {
    val snap = compileHist.getSnapshot
    if (snap.size >= compileHist.getCount) snap.getValues.sum
    else math.round(snap.getMean * compileHist.getCount)
  }
}

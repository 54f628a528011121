package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchBus
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One job as the scheduler reported it: wall span, the repo module its call
  * site belongs to, and how many of its stages ran or were skipped. */
final case class JobSpan(jobId: Int, start: Long, end: Long, module: String,
    stages: Int, skipped: Int)

/** Everything the listener attributed to one job-group id (one execution of
  * one query). Times are in the unit the field name ends with. */
final class QueryMeters {
  var stages, tasks, failedTasks, sqlActions = 0
  var taskCpuNs, gcMs, scanBytes, scanRows, writeBytes = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes, peakExecBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobs = mutable.ArrayBuffer[JobSpan]()
}

/** The benchmark's measurement listener. Every event is attributed to the
  * job-group id of the query that caused it — jobs through their start
  * properties, stages and tasks through the job that owns the stage, SQL
  * executions (and their planning phases) through the group id they were
  * started under — never by time window, so a late event still lands on the
  * query that caused it. */
final class Meter extends SparkListener {
  private final class LiveJob(val group: String, val start: Long, val module: String,
      val stageIds: Set[Int]) { val submitted = mutable.Set[Int]() }

  private val byGroup = mutable.HashMap[String, QueryMeters]()
  private val liveJobs = mutable.HashMap[Int, LiveJob]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val execGroup = mutable.HashMap[Long, String]()
  private val execModule = mutable.HashMap[String, String]()

  private def of(group: String) = byGroup.getOrElseUpdate(group, new QueryMeters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop("spark.jobGroup.id").foreach { g =>
      e.stageIds.foreach(stageGroup(_) = g)
      // a job started by a SQL execution (also from an AQE or broadcast
      // thread) belongs where that execution's action was called
      val module = prop("spark.sql.execution.id").flatMap(execModule.get).getOrElse(
        e.stageInfos.sortBy(-_.stageId).headOption.map(s => Meter.module(s.details)).getOrElse("spark"))
      liveJobs(e.jobId) = new LiveJob(g, e.time, module, e.stageIds.toSet)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    liveJobs.values.foreach(j => if (j.stageIds(e.stageInfo.stageId)) j.submitted += e.stageInfo.stageId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    liveJobs.remove(e.jobId).foreach { j =>
      of(j.group).jobs += JobSpan(e.jobId, j.start, e.time, j.module,
        j.submitted.size, j.stageIds.size - j.submitted.size)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val m = of(g)
      m.tasks += 1
      if (e.reason != Success) m.failedTasks += 1
      Option(e.taskMetrics).foreach { t =>
        m.taskCpuNs += t.executorCpuTime
        m.gcMs += t.jvmGCTime
        m.scanBytes += t.inputMetrics.bytesRead
        m.scanRows += t.inputMetrics.recordsRead
        m.writeBytes += t.outputMetrics.bytesWritten
        m.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
        m.shuffleWriteRecords += t.shuffleWriteMetrics.recordsWritten
        m.shuffleReadBytes += t.shuffleReadMetrics.totalBytesRead
        m.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
        m.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
        m.peakExecBytes = math.max(m.peakExecBytes, t.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(execGroup(s.executionId) = _)
        execModule(s.executionId.toString) = Meter.module(s.details)
      case end: SparkListenerSQLExecutionEnd =>
        execModule.remove(end.executionId.toString)
        for (g <- execGroup.remove(end.executionId); qe <- BenchBus.queryExecution(end)) {
          def ms(phase: String) = qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)
          val m = of(g)
          m.sqlActions += 1
          m.analysisMs += ms("analysis")
          m.optimizationMs += ms("optimization")
          m.planningMs += ms("planning")
        }
      case _ =>
    }
  }

  /** The meters of one group; call after the listener bus has drained. */
  def take(group: String): QueryMeters = synchronized {
    stageGroup.filterInPlace((_, g) => g != group)
    byGroup.remove(group).getOrElse(new QueryMeters)
  }
}

object Meter {
  /** The repo module a long call site belongs to: the innermost engine
    * frame's package (`graft.iterate.Fixpoint$...` → `iterate`); work the
    * benchmark itself starts (the sink) is `bench`, and a stack that holds no
    * engine frame is `spark`. */
  def module(details: String): String =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graftbench.") => "bench"
      case l if l.startsWith("graft.") =>
        val parts = l.split('.')
        if (parts.length > 2 && parts(1).forall(_.isLower)) parts(1) else "graft"
    }.getOrElse("spark")
}

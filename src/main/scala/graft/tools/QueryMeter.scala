package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import graft.iterate.Fixpoint

/** The dev tools' one measurement listener: jobs, stages and tasks, each
  * job's start/end span, call site and stage counts and the shuffle records
  * written, counted on one SparkContext while the meter is attached.
  *
  * [[run]] is the one measured run of the tools and of `graft.Bench`, so a
  * number from either means the same; every other read first delivers
  * every event posted so far. */
final class QueryMeter private (spark: SparkSession) extends SparkListener with AutoCloseable {
  import QueryMeter._

  private val sc = spark.sparkContext
  private val jobCount, stageCount, taskCount, shuffleRecords = new AtomicLong
  private val starts = TrieMap.empty[Int, Started]
  private val spans = new ConcurrentLinkedQueue[Job]
  /** the call site of each running SQL execution, by execution id */
  private val execSites = TrieMap.empty[String, String]

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    // a job a SQL execution started (also from an AQE or broadcast thread)
    // belongs where that execution's action was called
    val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSites.get)
      .getOrElse(j.stageInfos.maxByOption(_.stageId).map(s => callSite(s.details)).getOrElse("spark"))
    starts.put(j.jobId, Started(j.time, site, j.stageInfos.map(_.stageId).toSet))
    ()
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    starts.remove(j.jobId).foreach { s =>
      spans.add(Job(s.time, j.time, s.site, s.ran.size, s.stageIds.size - s.ran.size))
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId.toString, callSite(s.details)); ()
    case end: SparkListenerSQLExecutionEnd => execSites.remove(end.executionId.toString); ()
    case _ =>
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stageCount.incrementAndGet()
    val id = s.stageInfo.stageId
    starts.values.foreach(j => if (j.stageIds(id)) j.ran += id)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    taskCount.incrementAndGet()
    if (t.taskMetrics != null)
      shuffleRecords.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    ()
  }

  /** jobs started since the meter was attached or its last run began */
  def jobs: Long = { GraftBridge.drainListenerBus(sc); jobCount.get }

  /** The measured run: drains the bus and resets the counters, then times
    * `body` (a DataFrame result is written to the noop sink; any other
    * result is the run's `value`) as one [[Fixpoint.scope]], so relations
    * pinned before it survive and a leaf first taken inside it is released
    * with it; drains again and reads the leak meter once the scope has
    * settled. Of `samples` runs, the fastest. */
  def run(samples: Int = 1)(body: => Any): Run =
    (1 to samples).map(_ => once(body)).minBy(_.seconds)

  private def once(body: => Any): Run = {
    GraftBridge.drainListenerBus(sc)
    Seq(jobCount, stageCount, taskCount, shuffleRecords).foreach(_.set(0))
    starts.clear(); spans.clear()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val value = Fixpoint.scope(body match {
      case ds: Dataset[_] => ds.write.format("noop").mode("overwrite").save(); ()
      case v => v
    })
    val seconds = (System.nanoTime() - t0) / 1e9
    GraftBridge.drainListenerBus(sc)
    Run(seconds, startMs, jobCount.get, stageCount.get, taskCount.get, shuffleRecords.get,
      spans.asScala.toSeq.sortBy(_.start), leak(), value)
  }

  /** The cached RDDs still reachable from the driver once the run's scope
    * has released what the body took (so: what the run left behind). The
    * context's persistent-RDD map is weak-valued, so an RDD nothing
    * references stays a key until a GC collects it; after the explicit GC
    * the count no longer depends on when the last one ran. */
  private def leak(): Live = {
    System.gc()
    GraftBridge.drainListenerBus(sc)
    val reachable = sc.getPersistentRDDs.keySet
    val cached = sc.getRDDStorageInfo.toSeq
      .filter(r => reachable(r.id) && r.numCachedPartitions > 0)
    Live(cached.size, cached.map(_.numCachedPartitions.toLong).sum,
      cached.map(r => r.memSize + r.diskSize).sum)
  }

  /** detaches the listener */
  def close(): Unit = sc.removeSparkListener(this)
}

object QueryMeter {

  /** Attaches a meter to `spark`'s context, after every event posted so
    * far has been delivered, so it counts only what runs from here on. */
  def apply(spark: SparkSession): QueryMeter = {
    GraftBridge.drainListenerBus(spark.sparkContext)
    val meter = new QueryMeter(spark)
    spark.sparkContext.addSparkListener(meter)
    meter
  }

  /** One measured run: wall seconds from `startMs` (epoch ms, the clock of
    * the job `spans`), the counters and the leak meter, and `value`, the
    * body's result unless it was a DataFrame. */
  final case class Run(seconds: Double, startMs: Long, jobs: Long, stages: Long, tasks: Long,
      shuffled: Long, spans: Seq[Job], live: Live, value: Any)

  /** one job: its start and end (epoch ms), [[callSite]], and of the stages
    * it started with, how many completed for it and how many it skipped */
  final case class Job(start: Long, end: Long, site: String, stages: Int, skipped: Int)

  /** a running job: its start, call site, stages and the ones that ran */
  private final case class Started(time: Long, site: String, stageIds: Set[Int]) {
    val ran = scala.collection.mutable.Set.empty[Int]
  }

  /** The innermost engine frame of a long call site (`graft.graph.Graphs$
    * .undirectedSized(Graphs.scala:79)`): the line that started the job; a
    * stack that holds no engine frame is `spark`. */
  def callSite(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("spark")

  /** cached RDDs, their cached blocks and memory + disk bytes */
  final case class Live(rdds: Int, blocks: Long, bytes: Long)
}

package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only: count Spark jobs/stages/tasks per catalog query — the
  * load-independent evidence for barrier-fusion claims (wall clock on a
  * shared box is noise; the job count per fixpoint round is mechanical).
  *
  * Usage: runMain graft.tools.JobCount q1,q2,... — runs each query once
  * against SPARK_GRAFT_SF_DIR with the noop sink (the Bench action) and
  * prints one line per query: jobs, stages, tasks, and what the query left
  * cached (RDDs, blocks, bytes).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_graph_cc")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[jobcount] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // warmup (JIT + codegen), not counted in the report
    try SparkEntryWarm.warm(spark) catch { case _: Throwable => () }
    names.foreach { n =>
      // deliver every event of the warm-up or previous query before the
      // reset, so late events are not counted against this query
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      // the leak meter, read before the sweep: cached blocks and their
      // memory + disk bytes (perfbench's iterate.live_blocks / live_bytes)
      val live = spark.sparkContext.getRDDStorageInfo.toSeq
      val liveBlocks = live.map(_.numCachedPartitions.toLong).sum
      val liveBytes = live.map(r => r.memSize + r.diskSize).sum
      println(f"[jobcount] $n jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} wall=$dt%.2f" +
        s" live_rdds=${live.count(_.numCachedPartitions > 0)} live_blocks=$liveBlocks live_bytes=$liveBytes")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

private object SparkEntryWarm {
  def warm(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.SparkEntry.entry(spark).count(); ()
  }
}

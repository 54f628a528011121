package graft.tools

import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only: per-JOB wall-clock timeline for a catalog query — splits a
  * driver-loop query's cost into its scheduled jobs and, by subtraction,
  * the driver-side gaps between them (Catalyst planning, loop logic).
  * JobCount gives counts; this gives where the seconds go.
  *
  * Usage: runMain graft.tools.JobTrace q1[,q2,...]  (SPARK_GRAFT_SF_DIR)
  * Prints one line per job: start-offset, duration, gap since previous
  * job's end, then a summary: total wall, Σ job time, Σ gap time.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_graph_coloring")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[jobtrace] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val starts = TrieMap[Int, Long]()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach(s => spans.add((s, j.time)))
    })
    try spark.range(1).count() catch { case _: Throwable => () } // listener warm
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { n =>
      // deliver every event of the warm-up or PREVIOUS query before
      // clearing, so late job-end events can't leak spans into this timeline
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      spans.clear()
      val t0 = System.currentTimeMillis()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = System.currentTimeMillis() - t0
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      val sorted = {
        val it = spans.iterator(); val b = Seq.newBuilder[(Long, Long)]
        while (it.hasNext) b += it.next()
        // a span started before t0 belongs to warm-up or a prior query
        b.result().filter(_._1 >= t0).sortBy(_._1)
      }
      var prevEnd = t0
      var jobMs = 0L; var gapMs = 0L
      sorted.zipWithIndex.foreach { case ((s, e), i) =>
        val gap = math.max(0L, s - prevEnd)
        println(f"[jobtrace] $n job#$i%-3d +${s - t0}%6dms dur=${e - s}%6dms gap=$gap%6dms")
        jobMs += (e - s); gapMs += gap
        prevEnd = math.max(prevEnd, e)
      }
      val tail = math.max(0L, t0 + wall - prevEnd)
      println(f"[jobtrace] $n SUMMARY wall=${wall}ms jobs=${sorted.size} sum_job=${jobMs}ms sum_gap=${gapMs}ms tail=${tail}ms")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

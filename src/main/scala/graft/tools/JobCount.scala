package graft.tools

/** Dev-only: the per-query job meters — the load-independent evidence for
  * barrier-fusion claims (wall clock on a shared box is noise; the job
  * count per fixpoint round is mechanical) — and the per-job timeline that
  * splits a driver-loop query's wall into its jobs and, by subtraction, the
  * driver-side gaps between them (Catalyst planning, loop logic).
  *
  * Usage: runMain graft.tools.JobCount q1,q2,... — after one warm-up query,
  * runs each query once against SPARK_GRAFT_SF_DIR as one
  * [[QueryMeter.run]] (the noop sink, the Bench action) and prints one line
  * per job (start offset, duration, gap since the previous job's end, in
  * ms, the stages that ran for it and that it skipped, and its
  * [[QueryMeter.callSite]]), then one summary line: jobs, stages, tasks,
  * wall, Σ job time, Σ gap and the tail after the last job (seconds), and
  * what the query left cached once its run's scope released what it took
  * (RDDs, blocks, bytes; read after a GC, so 0 when nothing escapes).
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
    val meter = QueryMeter(spark)
    // warm-up (JIT + codegen), not reported
    try meter.run()(graft.SparkEntry.entry(spark).count())
    catch { case e: Exception => System.err.println(s"[jobcount] warm-up failed: $e") }
    names.foreach { n =>
      val r = meter.run()(graft.SparkEntry.queries(n)(spark, sfDir))
      var prevEnd = r.startMs
      var jobMs = 0L; var gapMs = 0L
      r.spans.zipWithIndex.foreach { case (QueryMeter.Job(s, e, site, stages, skipped), i) =>
        val gap = math.max(0L, s - prevEnd)
        println(f"[jobcount] $n job#$i%-3d +${s - r.startMs}%6dms dur=${e - s}%6dms gap=$gap%6dms" +
          f" stages=$stages%2d skipped=$skipped%2d $site")
        jobMs += e - s; gapMs += gap
        prevEnd = math.max(prevEnd, e)
      }
      val tailMs = math.max(0L, r.startMs + (r.seconds * 1000).toLong - prevEnd)
      println(f"[jobcount] $n jobs=${r.jobs} stages=${r.stages} tasks=${r.tasks} wall=${r.seconds}%.2f" +
        f" sum_job=${jobMs / 1e3}%.2f sum_gap=${gapMs / 1e3}%.2f tail=${tailMs / 1e3}%.2f" +
        s" live_rdds=${r.live.rdds} live_blocks=${r.live.blocks} live_bytes=${r.live.bytes}")
    }
    spark.stop()
  }
}

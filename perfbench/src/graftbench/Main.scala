package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.BenchBus
import org.apache.spark.sql.DataFrame

/** The benchmark's JVM side: one closed-loop client that runs a workload's
  * catalog queries one at a time, in a fixed order, through the public
  * surface `SparkEntry.queries(name)(spark, dir)` and a `noop` sink.
  *
  *  1. Set-up: session (`graft.core.Sessions`, `local[nproc]`), input
  *     registration (the schema contract check over every input table), and
  *     a warm-up pass that runs every query once and dumps its output as
  *     parquet for the oracle check.
  *  2. Timed passes until `--seconds` have elapsed and at least
  *     `--min-passes` ran. With `--trace 1` untraced and traced passes
  *     alternate, starting and ending untraced; only traced passes carry the
  *     listener, so their wall time against the untraced passes' is the
  *     tracing overhead.
  *
  * Each execution runs under its own job-group id, and the benchmark's
  * unpersist sweep runs after every query (after the leak meter has read the
  * blocks the query left behind). Writes one JSON record to `--record`.
  *
  * Usage: Main --queries q1,q2 --data <dir> --dump <dir> --record <file>
  *             --seconds <s> --trace <0|1> --min-passes <n>
  */
object Main {
  final case class Exec(query: String, group: String, startMs: Long, endMs: Long,
      buildS: Double, sinkS: Double, error: Option[String]) {
    def wallS: Double = buildS + sinkS
  }

  def main(args: Array[String]): Unit = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    val spark = graft.core.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    val sc = spark.sparkContext
    val drift = graft.core.Tables.schemaDrift(spark, data)
    require(drift.isEmpty, s"the input copy breaks the table contract: ${drift.mkString("; ")}")
    val catalog = graft.SparkEntry.queries
    val unknown = names.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    def sweep(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    def execute(query: String, group: String)(sink: DataFrame => Unit): Exec = {
      sc.setJobGroup(group, query, interruptOnCancel = false)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val error =
        try {
          val df = catalog(query)(spark, data)
          t1 = System.nanoTime()
          sink(df)
          None
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] FAILED $query ($group): ${e.getClass.getName}: ${e.getMessage}")
            Some(s"${e.getClass.getName}: ${e.getMessage}")
        } finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      if (error.nonEmpty) t1 = t2
      Exec(query, group, w0, System.currentTimeMillis(), (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
    }

    val warmup = names.map { q =>
      val e = execute(q, s"warmup:$q")(_.write.mode("overwrite").parquet(s"${opt("dump")}/$q"))
      sweep()
      e
    }
    val setupS = (System.currentTimeMillis() - processStart) / 1e3

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val meter = new Meter
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val clock = System.nanoTime()
    def elapsed = (System.nanoTime() - clock) / 1e9
    val minPasses = opt("min-passes").toInt
    while (elapsed < seconds || passes.size < minPasses || passes.lastOption.exists(_("traced") == true)) {
      val traced = trace && passes.size % 2 == 1
      if (traced) sc.addSparkListener(meter)
      val cpu0 = os.getProcessCpuTime
      val p0 = System.nanoTime()
      val runs = names.map { q =>
        val e = execute(q, s"pass${passes.size}:$q")(_.write.format("noop").mode("overwrite").save())
        val live = if (traced) sc.getRDDStorageInfo.toSeq else Nil
        sweep()
        (e, live.map(_.numCachedPartitions.toLong).sum, live.map(r => r.memSize + r.diskSize).sum)
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (traced) {
        BenchBus.drain(sc)
        sc.removeSparkListener(meter)
      }
      // retained heap: collect, let Spark's cleaner drop what the collection
      // released (shuffle and broadcast state), collect again
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Map("traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS, "heap_live_mb" -> heapMb,
        "queries" -> runs.map { case (e, blocks, bytes) =>
          execJson(e) ++ (if (traced) Map("live_blocks" -> blocks, "live_bytes" -> bytes) ++
            metersJson(meter.take(e.group), e) else Map.empty)
        })
    }

    val record = Map("setup_s" -> setupS, "cpus" -> sc.defaultParallelism,
      "warmup" -> warmup.map(execJson),
      "passes" -> passes,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    Files.writeString(Paths.get(opt("record")), Json(record))
    spark.stop()
  }

  private def execJson(e: Exec): Map[String, Any] = Map("query" -> e.query, "group" -> e.group,
    "build_s" -> e.buildS, "sink_s" -> e.sinkS, "wall_s" -> e.wallS, "error" -> e.error)

  /** The per-query meters, plus the driver gap: the part of the query's wall
    * window that no job span covers. */
  private def metersJson(m: QueryMeters, e: Exec): Map[String, Any] = {
    val spans = m.jobs.sortBy(_.start)
    var covered = 0L
    var reach = e.startMs
    spans.foreach { j =>
      val s = math.max(j.start, reach); val t = math.min(j.end, e.endMs)
      if (t > s) covered += t - s
      reach = math.max(reach, j.end)
    }
    Map("jobs" -> spans.size, "stages" -> m.stages, "skipped_stages" -> spans.map(_.skipped).sum,
      "tasks" -> m.tasks, "failed_tasks" -> m.failedTasks,
      "job_s" -> spans.map(j => j.end - j.start).sum / 1e3,
      "driver_gap_s" -> (e.endMs - e.startMs - covered) / 1e3,
      "task_cpu_s" -> m.taskCpuNs / 1e9, "gc_s" -> m.gcMs / 1e3,
      "scan_bytes" -> m.scanBytes, "scan_rows" -> m.scanRows, "write_bytes" -> m.writeBytes,
      "shuffle_write_bytes" -> m.shuffleWriteBytes, "shuffle_write_records" -> m.shuffleWriteRecords,
      "shuffle_read_bytes" -> m.shuffleReadBytes, "fetch_wait_s" -> m.fetchWaitMs / 1e3,
      "spill_bytes" -> m.spillBytes, "peak_exec_bytes" -> m.peakExecBytes,
      "sql_actions" -> m.sqlActions, "analysis_s" -> m.analysisMs / 1e3,
      "optimization_s" -> m.optimizationMs / 1e3, "planning_s" -> m.planningMs / 1e3,
      "spans" -> spans.map(j => Map("job" -> j.jobId, "start_ms" -> (j.start - e.startMs),
        "end_ms" -> (j.end - e.startMs), "module" -> j.module, "stages" -> j.stages,
        "skipped" -> j.skipped)))
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => other.toString
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package graft

import graft.tools.QueryMeter

/** Benchmark main: times SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json).
  */
object Bench {

  /** Canary refs: the pinned idle-run seconds of five small, stable canary
    * queries. The canary index is the run's context (box load, JIT
    * warmth), not the code. A ref changes only in the commit that changes
    * its canary's code, with the evidence in BASELINE.md. */
  val canaryRefs: Seq[(String, Double)] = Seq(
    "q_join_inner" -> 0.55, "q_topk" -> 0.15, "q_heavy_hitters" -> 0.65,
    "q_topk_per_key" -> 0.43, "q_tpch_q17" -> 0.62)

  /** Pin bands: the band-high seconds of each pinned query. A band changes
    * only in a commit that records its evidence in BASELINE.md. */
  val pinBands: Map[String, Double] = Map(
    "q_graph_ktruss_sparse" -> 12.2, "q_graph_cc" -> 2.5,
    "q_graph_coloring" -> 15.0,
    "q_graph_scc" -> 7.0, "q_graph_scc_levels" -> 9.4,
    "q_graph_densest" -> 4.3,
    // the rank-window didactic twin keeps the band of coreness's old plan
    "q_graph_coreness" -> 6.5, "q_graph_coreness_window" -> 12.4,
    "q_dedup_containment" -> 3.0, "q_graph_cc_inc" -> 7.6)

  /** A run's verdict: the canary index (None when no canary has a value),
    * the pinned queries above their band, in query order, and the total of
    * the queries that ran. */
  final case class Verdict(ctx: Option[Double], pinFails: Seq[(String, Double)], total: Double)

  /** The verdict of one run from its per-query values (−1 = failed). The
    * canary index is the median ratio value / ref over the canaries with a
    * positive value (the upper middle of an even count); a pinned query
    * fails iff its value exceeds band × max(1, ctx). */
  def verdict(values: Seq[(String, Double)]): Verdict = {
    val byName = values.toMap
    val ratios = canaryRefs.flatMap { case (n, ref) =>
      byName.get(n).filter(_ > 0).map(_ / ref)
    }.sorted
    val ctx = if (ratios.isEmpty) None else Some(ratios(ratios.length / 2))
    val scale = math.max(1.0, ctx.getOrElse(1.0))
    val fails = values.filter { case (n, v) => v > 0 && pinBands.get(n).exists(v > _ * scale) }
    Verdict(ctx, fails, values.map(_._2).filter(_ >= 0).sum)
  }

  /** `"k":v` with the key escaped as a JSON string */
  private def field(k: String, v: String): String = Verify.jsonString(k) + ":" + v
  private def obj(fields: Seq[String]): String = fields.mkString("{", ",", "}")
  private def secs(v: Double): String = f"$v%.3f"

  /** `git args` in the working directory: its trimmed output, or None on a
    * non-zero exit */
  private def git(args: String*): Option[String] = try {
    val p = new ProcessBuilder(("git" +: args): _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
    if (p.waitFor() == 0) Some(out) else None
  } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)
    val meter = QueryMeter(spark)

    // Warm-up: one untimed pass over the built-in entry, so the timed
    // samples price the engine, not JIT and first-touch class loading.
    def describe(t: Throwable): String = s"${t.getClass.getName}: ${t.getMessage}"
    try SparkEntry.entry(spark).count() catch {
      case t: Throwable => System.err.println(s"[bench] warmup failed: ${describe(t)}")
    }

    // Failures are loud: each one is printed to stderr and its error lands in
    // the "failed" field of both JSON lines (last failure per query), so a
    // query that starts throwing can not pass as a smaller total.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // One sample is one QueryMeter.run, the dev tools' measured run: the
    // query to the noop sink (the FULL plan, top-level ORDER BY and output
    // projection included, unlike count()) as one Fixpoint.scope.
    def sample(name: String): Option[QueryMeter.Run] =
      try Some(meter.run()(SparkEntry.queries(name)(spark, sfDir)))
      catch {
        case t: Throwable =>
          System.err.println(s"[bench] $name failed: ${describe(t)}")
          failures(name) = describe(t)
          None
      }
    def seconds(r: Option[QueryMeter.Run]): Double = r.fold(-1.0)(_.seconds)

    // Interleaved passes: each query's value is the min of its samples, and
    // the samples come from full passes over the query list, so a load spike
    // inflates at most one sample per query; two samples more than 1.5x
    // apart get a third. SPARK_GRAFT_BENCH_ONLY=q_a,q_b times a subset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names -- SparkEntry.benchQueries.toSet
        // a typo'd filter must not masquerade as a valid (empty) measurement
        if (unknown.nonEmpty)
          System.err.println(s"[bench] WARNING: not in benchQueries, ignored: ${unknown.mkString(", ")}")
        SparkEntry.benchQueries.filter(names.contains)
      case None => SparkEntry.benchQueries
    }
    val pass1 = selected.map(n => n -> seconds(sample(n))).toMap
    // pass 2 also gives the meters: pass 1 pays each table's one-time schema
    // inference, so its counts depend on query order
    val pass2 = selected.map(n => n -> sample(n)).toMap
    val samples = selected.map { name =>
      val two = Seq(pass1(name), seconds(pass2(name)))
      val tiebreak = two.forall(_ >= 0) && two.max > two.min * 1.5
      name -> (if (tiebreak) two :+ seconds(sample(name)) else two)
    }
    val results = samples.map { case (n, s) => n -> (if (s.exists(_ < 0)) -1.0 else s.min) }
    val Verdict(ctx, pinFails, total) = verdict(results)

    val pinField =
      if (pinFails.isEmpty) ""
      else "," + field("pin_fails", obj(pinFails.map { case (n, v) => field(n, secs(v)) }))
    val contextIndex = ctx.map(c => f"$c%.2f").getOrElse("null")
    val qs = obj(results.map { case (n, v) => field(n, secs(v)) })
    // every sample rides along, so an anomalous min carries its evidence
    val ss = obj(samples.map { case (n, s) => field(n, s.map(secs).mkString("[", ",", "]")) })
    val meters = obj(selected.flatMap(n => pass2(n).map { r =>
      field(n, s"""{"jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},""" +
        s""""shuffle_records":${r.shuffled},"live_blocks":${r.live.blocks}}""")
    }))
    // {query: "Class: message"}, the message cut to its first line and
    // `width` chars (Spark errors can carry whole plans)
    def failedJson(width: Int): String = obj(failures.toSeq.map { case (q, err) =>
      field(q, Verify.jsonString(err.linesIterator.nextOption().getOrElse("").take(width)))
    })
    // raw_value equals value; it stays because record fields are only added
    val json =
      f"""{"metric":"total","value":$total%.3f,"raw_value":$total%.3f,"unit":"sec","context_index":$contextIndex$pinField,"failed":${failedJson(500)},"queries":$qs,"samples":$ss,"meters":$meters,"sf":"$sfDir"}"""
    println(json)
    // Compact line: the last line of stdout stays within a 2000-char tail
    // that a reader parses as JSON — the full per-query map when it fits,
    // else the slowest queries plus an omission count. The full record goes
    // to BENCH_LAST.json and BENCH_HISTORY.jsonl.
    val budget = 1800 // 2000-char window minus sbt's trailing [success] line
    def compactLine(entries: Seq[(String, Double)], omitted: Int): String = {
      val m = obj(entries.map { case (n, v) => field(n, secs(v)) })
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      f"""{"metric":"total","value":$total%.3f,"raw_value":$total%.3f,"unit":"sec","context_index":$contextIndex,"failed_count":${failures.size},"failed":${failedJson(100)},"queries":$m$om,"sf":"$sfDir"}"""
    }
    val bySlowest = results.sortBy { case (_, v) => -v }
    var keep = bySlowest.length
    var line = compactLine(results, 0)
    while (line.length > budget && keep > 1) {
      keep -= 1
      line = compactLine(bySlowest.take(keep), bySlowest.length - keep)
    }
    println(line)
    // the full line also goes to a file, untouched by sbt's stdout tagging
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    // History append: every full-catalog run appends its full record to
    // BENCH_HISTORY.jsonl, stamped with the commit, the cpu count and the
    // git tree hash of what runs (src/main/scala and build.sbt, unchanged by
    // doc-only commits; absent on a dirty tree). Subset runs are not appended.
    if (only.isEmpty) try {
      val srcTree = git("status", "--porcelain", "src/main/scala", "build.sbt").flatMap {
        case "" => for {
          src <- git("rev-parse", "HEAD:src/main/scala")
          bld <- git("rev-parse", "HEAD:build.sbt")
        } yield src + "+" + bld.take(12)
        case _ => None
      }
      val headField = git("rev-parse", "HEAD").map(h => s""""git_head":"$h",""").getOrElse("")
      val treeField = srcTree.map(h => s""""src_tree":"$h",""").getOrElse("")
      val entry = s"""{"ts_ms":${System.currentTimeMillis()},$headField$treeField"cpus":$cpus,""" + json.stripPrefix("{")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        (entry + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable => System.err.println(s"[bench] history append failed: $e") }
    spark.stop()
  }
}

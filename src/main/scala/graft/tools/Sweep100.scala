package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Dev-only single-sample 100× sweep rows (r14 verdict item 6) for the
  * round-14/15 families whose min-of-2 SkewScale run exceeds a session
  * budget at k = 100 (one editjoin2 sample alone runs >10 min there).
  * Single samples at QUIET box load, labeled as such in BASELINE — the
  * honest trade documented at the r13 editjoin 100× row (min across
  * identical-data runs when budget allows).
  *
  * Usage: runMain graft.tools.Sweep100 [sfDir] [k] [algos]
  */
object Sweep100 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 100
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet
      else Set("editjoin2", "mg", "mg_hot")
    def want(n: String): Boolean = only.contains(n)
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // shuffle-record meter (the IncAb convention): local wall is
    // job-latency-floor dominated; the 100 TB property is what MOVES
    val meter = QueryMeter(spark)
    def row(name: String)(f: => DataFrame): Unit = {
      val r = meter.run()(f)
      println(f"[sweep100] $name%-22s ${k}x ${r.seconds}%8.2f s  " +
        f"shuffled=${r.shuffled} (single sample)")
    }
    // k disjoint copies of the customer keys and of the event log
    lazy val cust = spark.read.parquet(s"$sfDir/customer.parquet").select("c_custkey")
    lazy val custBase = Inflate.base(cust, "c_custkey")
    lazy val custRep = Inflate.replicate(cust, k, Map("c_custkey" -> custBase))
    def eventRep(cols: String*): DataFrame = {
      val ev = spark.read.parquet(s"$sfDir/events.parquet").select(cols.map(col): _*)
      Inflate.replicate(ev, k, Map("event_id" -> Inflate.base(ev, "event_id")))
    }
    if (want("editjoin2")) {
      // the SkewScale sparse-serial recipe: replicated custkeys respaced
      // by x37 so near-miss density prices the blocking machinery
      val rep = Fixpoint.materializedLeaf(custRep
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey") * 37)))
      println(s"[sweep100] editjoin2 corpus: ${rep.count()} rows")
      row("editjoin2")(graft.ops.EditJoin.pairsWithin2(rep,
        "c_custkey", "c_name", maxCandidates = Long.MaxValue))
    }
    if (want("editjoin2_grouped")) {
      // r15 verdict item 4b: the duplicate-identity regime at the third
      // decade — every replica KEEPS its base-copy name (sparse ×37
      // serials), so each of the ~|customer| distinct names carries k
      // identical copies. The grouped route dedups to one rep row per
      // name before any variant expansion; the honest denominator: its
      // n_pairs output encodes dup1·dup2 identity mass per name pair —
      // k² per cross pair and C(k,2) within a name — which the exploded
      // form would have to WRITE OUT as (k·distinct)² -scale rows.
      val rep = Fixpoint.materializedLeaf(custRep.withColumn("c_name",
        format_string("Customer#%09d", (col("c_custkey") % custBase) * 37)))
      println(s"[sweep100] editjoin2_grouped corpus: ${rep.count()} rows, " +
        s"distinct names: ${rep.select("c_name").distinct().count()}")
      row("editjoin2_grouped")(graft.ops.EditJoin.pairsWithin2Grouped(rep,
        "c_custkey", "c_name", maxCandidates = Long.MaxValue))
    }
    if (want("mg") || want("mg_hot")) {
      // the SkewScale mg shape: replicated events, sqrt-ramp key; the hot
      // twin collapses 1-in-50 events onto ONE user (the bot shape)
      val rep = eventRep("event_id", "user_id", "value")
      def erep(hot: Boolean): DataFrame = {
        val u = if (!hot) rep
          else rep.withColumn("user_id",
            when(col("event_id") % 50 === 0, lit(1L)).otherwise(col("user_id")))
        Fixpoint.materializedLeaf(u.select(col("user_id"),
          expr("CAST(floor(sqrt(CAST(value AS DECIMAL(18,2)) * 100)) AS BIGINT)")
            .as("k")))
      }
      if (want("mg")) row("mg_uniform")(
        graft.ops.MisraGries.summary(erep(hot = false), Seq("user_id"), "k"))
      if (want("mg_hot")) row("mg_hot")(
        graft.ops.MisraGries.summary(erep(hot = true), Seq("user_id"), "k"))
    }
    if (want("hh")) {
      // r15 verdict item 5: the regime where the MG prune WINS — wide
      // key domain with a tight threshold: ~1000 heavy keys hold half
      // the mass, the other half of the rows carry ~unique tail keys.
      // The CMS route's pass 2 shuffles every row of every candidate
      // key (≥ half the corpus — and eps·N ≈ T here, so CMS error drags
      // tail keys in too); the MG route shuffles ≤ partitions·(k+1)
      // counter rows for k = N/T + 1 ≈ 2001. Same exact output.
      val keyed = Fixpoint.materializedLeaf(eventRep("event_id")
        .select(when(col("event_id") % 2 === 0, col("event_id") % 1000)
          .otherwise(lit(1000L) + col("event_id")).as("k")))
      val n = keyed.count()
      val thr = n / 2000L
      println(s"[sweep100] hh corpus: $n rows, threshold $thr, " +
        s"mg candidate budget ${n / thr + 1L}")
      row("hh_cms")(graft.ops.HeavyHitters.heavyHitters(keyed, "k", thr))
      row("hh_mg")(graft.ops.HeavyHitters.heavyHittersMg(keyed, "k", thr))
      row("hh_auto")(graft.ops.HeavyHitters.heavyHittersAuto(keyed, "k", thr))
    }
    if (want("hh_near")) {
      // the CMS-adversarial (still realistic: zipf mid-body) regime —
      // most of the mass sits just BELOW the threshold: 400 heavy keys
      // at 2T carry 40%, 2400 near keys at T/2 carry 60%. The default
      // eps puts the CMS error at ~T/2 = a near key's true count, so a
      // large share of the near keys (and all their ROWS) survive the
      // estimate filter into the exact pass; the MG truncation keeps
      // ≤ k counters and its broadcast prune discards the near rows
      // before the exact aggregation.
      val keyed = Fixpoint.materializedLeaf(eventRep("event_id")
        .select(when(col("event_id") % 5 < 2, col("event_id") % 400)
          .otherwise(lit(400L) + (col("event_id") % 2400)).as("k")))
      val n = keyed.count()
      val thr = n / 2000L // heavy ≈ 2T each, near ≈ T/2 each
      println(s"[sweep100] hh_near corpus: $n rows, threshold $thr, " +
        s"mg candidate budget ${n / thr + 1L}")
      row("hh_near_cms")(graft.ops.HeavyHitters.heavyHitters(keyed, "k", thr))
      row("hh_near_mg")(graft.ops.HeavyHitters.heavyHittersMg(keyed, "k", thr))
    }
    if (want("hh_tight")) {
      // the regime where the MG prune wins OUTRIGHT: tight threshold at
      // DEFAULT sketch sizing. T = N/20000 puts the default-eps CMS
      // error (0.0005·N = N/2000 = 10T) far above the threshold, so the
      // estimate filter passes EVERY key and pass 2 degenerates to the
      // full wide-domain exact aggregation the prune exists to avoid;
      // the MG counters need no sizing decision at all (the guarantee
      // is structural in k = N/T+1 = 20001, still broadcast-small).
      // The third seat re-sizes eps to the threshold (width ×20, a
      // 2.2 MB sketch/task) — what a CMS user must DO to recover.
      val keyed = Fixpoint.materializedLeaf(eventRep("event_id")
        .select(when(col("event_id") % 2 === 0, col("event_id") % 1000)
          .otherwise(lit(1000L) + col("event_id")).as("k")))
      val n = keyed.count()
      val thr = math.max(1L, n / 20000L)
      println(s"[sweep100] hh_tight corpus: $n rows, threshold $thr, " +
        s"default-eps error ${(0.0005 * n).toLong}, " +
        s"mg candidate budget ${n / thr + 1L}")
      row("hh_tight_mg")(graft.ops.HeavyHitters.heavyHittersMg(keyed, "k", thr))
      row("hh_tight_cms")(graft.ops.HeavyHitters.heavyHitters(keyed, "k", thr))
      row("hh_tight_cms_sized")(graft.ops.HeavyHitters.heavyHitters(
        keyed, "k", thr, eps = thr.toDouble / (2.0 * n)))
    }
    spark.stop()
  }
}

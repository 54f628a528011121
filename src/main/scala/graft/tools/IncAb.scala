package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Dev-only steady-state A/B for the round-14 incremental blocking twins
  * (not part of the driver contract): the catalog `_inc` faces price the
  * EQUALITY CONTRACT (they replay the stored-state build inside the
  * clock), while the 100 TB claim is about the STEADY STATE — stored
  * index already materialized, only the batch pays. This tool measures
  * that directly: on a K×-replicated customer set, it materializes the
  * stored state OUTSIDE the clock, then times
  *   (a) the full batch recompute over existing ∪ batch, vs
  *   (b) the incremental fold of a 1-in-`batchMod` batch,
  * for the FastSS edit join (k=1) and sorted-neighborhood blocking.
  *
  * Usage: runMain graft.tools.IncAb [sfDir] [k] [batchMod]
  */
object IncAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val batchMod = if (args.length > 2) args(2).toLong else 100L
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val cust = graft.core.Tables.customer(spark, sfDir).select("c_custkey")
    val cbase = Inflate.base(cust, "c_custkey")
    val rep = Fixpoint.materializedLeaf(Inflate.replicate(cust, k, Map("c_custkey" -> cbase))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))))
    val existing = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") % batchMod =!= 0L))
    val incoming = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") % batchMod === 0L))
    val nAll = rep.count(); val nInc = incoming.count()
    println(s"[incab] corpus=$nAll batch=$nInc (1 in $batchMod)")
    // shuffle-volume meter: local wall time at this scale is job-latency-
    // floor dominated, but the 100 TB property under test is WHAT MOVES —
    // records written to shuffle per run (broadcast sides write nothing)
    val meter = QueryMeter(spark)
    // file-bytes meter (r15): what a fold READS FROM DISK — the quantity
    // directory pruning saves; cached/checkpointed reads don't touch it
    import scala.jdk.CollectionConverters._
    def fsRead(): Long = org.apache.hadoop.fs.FileSystem
      .getAllStatistics.asScala.map(_.getBytesRead).sum
    def row(name: String)(f: => Long): Double = {
      val b0 = fsRead()
      val r = meter.run()(f)
      println(f"[incab] $name%-30s ${r.seconds}%8.3f s  rows=${r.value}  " +
        f"shuffled=${r.shuffled}  fs_read=${fsRead() - b0}")
      r.seconds
    }
    // ---- edit join: stored state built outside the clock
    val ejIdx = Fixpoint.materializedLeaf(
      graft.ops.EditJoin.variantIndex(existing, "c_custkey", "c_name"))
    val ejStored = Fixpoint.materializedLeaf(
      graft.ops.EditJoin.pairsWithin1(existing, "c_custkey", "c_name"))
    val fullEj = row("editjoin full recompute")(
      graft.ops.EditJoin.pairsWithin1(rep, "c_custkey", "c_name").count())
    val incEj = row("editjoin steady-state inc")(
      graft.ops.EditJoin.incrementalPairsWithin1(ejIdx, ejStored, incoming,
        "c_custkey", "c_name").count())
    println(f"[incab] editjoin inc/full = ${incEj / fullEj}%.2fx")
    // ---- sorted neighborhood: ranked state + pairs outside the clock
    val snState = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.rankedState(existing,
      "c_custkey", "c_name"))
    val snStored = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.pairs(existing,
      "c_custkey", "c_name", 5))
    val fullSn = row("sorted full recompute")(
      graft.ops.SortedNeighborhood.pairs(rep, "c_custkey", "c_name", 5).count())
    val incSn = row("sorted steady-state inc")(
      graft.ops.SortedNeighborhood.incrementalPairs(snState, snStored, incoming,
        "c_custkey", "c_name", 5).count())
    println(f"[incab] sorted inc/full = ${incSn / fullSn}%.2fx (scattered batch)")
    // ---- the APPEND regime: the batch's keys all sort past the stored
    // corpus (time-ordered or serial keys — the realistic ingest shape),
    // so exactly ONE pid is touched and the incremental fold does work
    // proportional to that pid + the batch, not the corpus
    val cut = rep.agg(expr("percentile(c_custkey, 0.99)")).first().getDouble(0).toLong
    val exA = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") <= cut))
    val incA = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") > cut))
    println(s"[incab] append regime: existing=${exA.count()} batch=${incA.count()}")
    val stateA = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.rankedState(exA,
      "c_custkey", "c_name"))
    val storedA = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.pairs(exA,
      "c_custkey", "c_name", 5))
    val fullA = row("sorted full (append)")(
      graft.ops.SortedNeighborhood.pairs(rep, "c_custkey", "c_name", 5).count())
    val incAa = row("sorted inc (append)")(
      graft.ops.SortedNeighborhood.incrementalPairs(stateA, storedA, incA,
        "c_custkey", "c_name", 5).count())
    println(f"[incab] sorted append inc/full = ${incAa / fullA}%.2fx")
    // ---- the DEPLOYMENT layout (r15): state persisted pid-partitioned
    // with its boundary directory; the fold's state scans prune to
    // relevant pids at the DIRECTORY level. Metered in two regimes:
    // scattered (1-in-batchMod keys — every pid touched, the honest
    // floor where pruning cannot help because rank-shift semantics
    // re-window every pid) and CLUSTERED (same batch size, one
    // contiguous key range — the regime pruning exists for: fs_read
    // and shuffled records should be neighborhood-sized, not
    // corpus-sized).
    def storeOf(ex: DataFrame, tag: String): String = {
      val p = java.nio.file.Files.createTempDirectory(s"graft-incab-$tag")
        .toString + "/state"
      graft.ops.SortedNeighborhood.writeRankedState(ex, "c_custkey", "c_name", p)
      p
    }
    val storeS = storeOf(existing, "scat")
    val _ = row("sorted inc (store, scattered)")(
      graft.ops.SortedNeighborhood.incrementalPairsFromStore(spark, storeS,
        snStored, incoming, "c_custkey", "c_name", 5).count())
    val mid = cbase * (k / 2)
    val exC = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") < mid ||
        col("c_custkey") >= mid + nInc))
    val incC = Fixpoint.materializedLeaf(rep.filter(col("c_custkey") >= mid &&
        col("c_custkey") < mid + nInc))
    println(s"[incab] clustered regime: existing=${exC.count()} batch=${incC.count()}")
    val storeC = storeOf(exC, "clus")
    val storedC = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.pairs(exC,
      "c_custkey", "c_name", 5))
    val fullC = row("sorted full (clustered)")(
      graft.ops.SortedNeighborhood.pairs(rep, "c_custkey", "c_name", 5).count())
    val incCc = row("sorted inc (store, clustered)")(
      graft.ops.SortedNeighborhood.incrementalPairsFromStore(spark, storeC,
        storedC, incC, "c_custkey", "c_name", 5).count())
    println(f"[incab] sorted clustered inc/full = ${incCc / fullC}%.2fx")
    spark.stop()
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.iterate.Fixpoint

/** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) — the
  * classic record-linkage candidate generator: sort all records by a
  * blocking key, pair every record with its w−1 successors in sort
  * order. Output is BOUNDED at n·(w−1) pairs by construction (compare
  * LSH's probabilistic df bounds and FastSS's structural bucket bound —
  * this family member's bound needs no hashing at all), and near-misses
  * that share a key prefix land adjacent regardless of where they differ
  * later in the string.
  *
  * The scale hazard is the GLOBAL rank: a naive `row_number() OVER
  * (ORDER BY key)` plans Exchange SinglePartition and sorts the corpus
  * on one task. [[globalRank]] is the scale-safe form (the
  * Corpus.systematicSample recipe): range-partition by the sort key,
  * collect the ≤ #partitions per-partition COUNTS (a k-row contract
  * collect), broadcast the exclusive prefix offsets back, and
  * row_number only WITHIN partitions — ranks are exact because range
  * partitions are order-contiguous and (key, id) is a total order, and
  * they are deterministic even though the sampled range boundaries are
  * not: offset + within-partition position is the same global rank
  * wherever the cuts fall. PlanSpec asserts no SinglePartition exchange
  * survives in the catalog face.
  *
  * Pairing then rides [[RangeJoin.pairsWithin]] on the rank itself
  * (delta = w−1, constant join key): every successor within the window
  * lives in the same or next rank bucket, so the candidate join is a
  * banded equi-join — two bucket keys per row, never a cross product.
  */
object SortedNeighborhood {

  /** Exact dense global rank 0..n−1 of `df` rows under (keyCol, idCol) —
    * distributed; see class doc. `idCol` must be unique (it breaks key
    * ties, making the order total). Output: (id, sk, rank). */
  def globalRank(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    rankedState(df, idCol, keyCol).select(col("id"), col("sk"), col("rank"))

  /** [[globalRank]] WITH the range-partition id retained — the STORED
    * form an ingest pipeline keeps so batches merge without a global
    * re-rank ([[incrementalPairs]]): the pid column is the insertion
    * directory (each pid's minimum (sk, id) is its range boundary,
    * recoverable from the state itself by a ≤ #partitions aggregate).
    * Output: (id, sk, rank, pid). */
  def rankedState(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(col(keyCol).as("sk"), col(idCol).as("id"))
    val parts = spark.sparkContext.defaultParallelism.max(1).min(32)
    // pin partition ids before the double consumption (counts + window)
    val ranged = Fixpoint.materializedLeaf(base.repartitionByRange(parts, col("sk"), col("id"))
      .withColumn("pid", spark_partition_id()))
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("c"))
      .orderBy("pid").collect() // ≤ parts rows by contract
    val offsets = counts.map(_.getLong(1)).scanLeft(0L)(_ + _).init
    import spark.implicits._
    val offDf = counts.map(_.getInt(0)).zip(offsets).toSeq.toDF("pid", "off")
    val win = Window.partitionBy("pid").orderBy("sk", "id")
    ranged.join(F.broadcast(offDf), "pid")
      .withColumn("rank",
        row_number().over(win).cast("long") - 1L + col("off"))
      .select(col("id"), col("sk"), col("rank"), col("pid"))
  }

  /** Candidate pairs within a sliding window of `w` records in
    * (keyCol, idCol) sort order: (id1, id2, gap) with id1 the earlier
    * record and 0 < gap = rank2 − rank1 ≤ w−1; each pair exactly once. */
  def pairs(df: DataFrame, idCol: String, keyCol: String, w: Int): DataFrame = {
    require(w >= 2, "window must cover at least two records")
    val ranked = globalRank(df, idCol, keyCol).withColumn("all", lit(1))
    RangeJoin.pairsWithin(ranked, "all", "id", "rank", (w - 1).toLong)
      .select(col("id_a").as("id1"), col("id_b").as("id2"),
        (col("ts_b") - col("ts_a")).as("gap"))
  }

  /** Multi-pass sorted neighborhood (Hernández–Stolfo's standard recall
    * repair): one [[pairs]] pass per independent blocking key, candidate
    * union, deduplicated on the UNORDERED id pair — a near-miss whose
    * strings diverge in the first character (invisible to a prefix-sorted
    * window) is caught by a pass on an independent key (reversed string,
    * secondary attribute). Output (id1 < id2 BY ID — pass rank orders
    * differ — and n_passes = how many passes proposed the pair); bounded
    * at |keys|·n·(w−1) candidates by construction. */
  def pairsMultiKey(df: DataFrame, idCol: String, keyCols: Seq[String],
      w: Int): DataFrame = {
    require(keyCols.nonEmpty, "need at least one blocking key")
    keyCols.map(k => pairs(df, idCol, k, w)
        .select(least(col("id1"), col("id2")).as("id1"),
          greatest(col("id1"), col("id2")).as("id2")))
      .reduce(_ unionByName _)
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_passes"))
  }

  /** Incremental twin of [[pairs]] (round-13 verdict item 4b): merge a
    * new `incoming` batch into a corpus whose stored state is
    * (`state` = the [[rankedState]] of the existing rows, `storedPairs`
    * = their [[pairs]] output), producing the EXACT pair set of
    * `pairs(existing ∪ incoming, w)` — without a global re-rank.
    *
    * How (all driver collects are ≤ #partitions rows by contract; every
    * corpus-sized relation — state, stored pairs, the merged rank view —
    * is SCANNED but never SHUFFLED: all joins against them carry a
    * broadcast batch-derived side):
    *  1. the stored pids' range boundaries (min (sk, id) per pid) are
    *     recovered from the state by one tiny aggregate and broadcast;
    *     each incoming row routes to the pid whose boundary precedes it;
    *  2. only TOUCHED pids (those receiving ≥ 1 incoming row) re-run a
    *     partition-LOCAL window over existing ∪ incoming — merged global
    *     rank = pid's stored min rank + incoming-in-earlier-pids prefix
    *     + local position − 1, exact because range partitions are
    *     order-contiguous; untouched pids shift by a broadcast offset
    *     (no recompute, no shuffle of their rows). The same window also
    *     yields each incoming row's OLD-rank insertion point
    *     p = r0 + lpos − (running incoming count) — the pid-local
    *     identity that makes affected-pair detection batch-local;
    *  3. NEW pairs (≥ 1 incoming member) come from a banded rank join of
    *     the incoming rows' ±(w−1) neighborhoods BROADCAST against the
    *     merged relation — incoming-vs-all, never existing-vs-existing;
    *  4. a stored pair's gap changes ONLY if an insertion lands strictly
    *     inside its rank interval (ra < p ≤ ra + gap), so the AFFECTED
    *     id1 candidates are the ≤ |batch|·(w−1) existing ranks in
    *     [p − (w−1), p) — found by a broadcast banded probe of the
    *     state, then stored pairs split by a broadcast semi/anti join:
    *     unaffected pairs pass through VERBATIM (gap unchanged — both
    *     endpoints shift equally), affected ones re-gap against the
    *     merged ranks of their (broadcast) endpoint set and drop out of
    *     the window when the gap grows past w−1.
    *
    * Per-batch cost: the whole-corpus sort never re-runs, and the only
    * exchanges are batch-sized — the corpus relations contribute scans,
    * PRUNED to the pids the batch can influence: the driver knows every
    * pid's stored rank interval (from the boundary directory) and every
    * insertion's pid, so only pids whose interval lies within w−1 ranks
    * of a touched pid participate in the merged view and the affected
    * probe; on a [[writeRankedState]] layout those isin filters become
    * directory-level PartitionFilters (the cluster-partitioned ANN
    * precedent), so a clustered or append-shaped batch READS only its
    * neighborhood's files. The honest floor: a batch that scatters
    * insertions into EVERY pid re-windows every pid — that is rank-shift
    * semantics (each insertion changes its pid's local positions), not a
    * plan defect; pruning pays off exactly in proportion to how
    * clustered the batch is. */
  def incrementalPairs(state: DataFrame, storedPairs: DataFrame,
      incoming: DataFrame, idCol: String, keyCol: String, w: Int): DataFrame = {
    // the insertion directory: boundaries + stored min rank per pid,
    // recovered from the state by one tiny aggregate. Boundary values
    // are read GENERICALLY (Row.get + the state's own datatypes), so any
    // orderable (key, id) types work — only pid (int, spark_partition_id)
    // and rank (long, rankedState's contract) are typed reads (round-14
    // ADVICE: the old getString/getLong pair made the generic-looking
    // API string/long-only at runtime).
    val bounds = pidBounds(state)
      .collect() // ≤ #partitions rows by the rankedState contract
      .map(r => (r.getInt(0), r.getStruct(1).get(0), r.getStruct(1).get(1),
        r.getLong(2)))
      .sortBy(_._1)
    incrementalImpl(state, bounds, storedPairs, incoming, idCol, keyCol, w)
  }

  /** Per pid of a ranked state: its range boundary `lo` = min (sk, id) and
    * its min rank `r0`, then `extra` — ≤ #partitions rows. */
  private def pidBounds(st: DataFrame, extra: org.apache.spark.sql.Column*): DataFrame =
    st.groupBy("pid").agg(F.min(struct(col("sk"), col("id"))).as("lo"),
      F.min("rank").as("r0") +: extra: _*)

  /** Directory suffix of the boundary relation a [[writeRankedState]]
    * layout stores next to the pid-partitioned state. */
  val BoundsSuffix = "_bounds"

  /** Persist [[rankedState]] as the DEPLOYMENT layout: the state
    * PARTITIONED BY pid (Hive directory layout — so
    * [[incrementalPairsFromStore]]'s touched/relevant-pid isin filters
    * prune whole directories before any I/O, PlanSpec-asserted) plus the
    * tiny boundary directory (pid, losk, loid, r0) at `path`+
    * [[BoundsSuffix]], written once here so no later ingest ever scans
    * the full state just to recover ≤ #partitions boundary rows. */
  def writeRankedState(df: DataFrame, idCol: String, keyCol: String,
      path: String): Unit = Fixpoint.scope {
    val st = Fixpoint.materializedLeaf(rankedState(df, idCol, keyCol))
    st.write.mode("overwrite").partitionBy("pid").parquet(path)
    pidBounds(st)
      .select(col("pid"), col("lo").getField("sk").as("losk"),
        col("lo").getField("id").as("loid"), col("r0"))
      .write.mode("overwrite").parquet(path + BoundsSuffix)
  }

  /** [[incrementalPairs]] over a [[writeRankedState]] disk layout: the
    * boundary directory comes from its own tiny parquet (never a
    * full-state aggregate), and every state access carries a pid isin
    * filter the partitioned layout turns into directory pruning. */
  def incrementalPairsFromStore(spark: org.apache.spark.sql.SparkSession,
      statePath: String, storedPairs: DataFrame, incoming: DataFrame,
      idCol: String, keyCol: String, w: Int): DataFrame = {
    val state = spark.read.parquet(statePath)
    val bounds = spark.read.parquet(statePath + BoundsSuffix)
      .select("pid", "losk", "loid", "r0")
      .collect() // ≤ #partitions rows by the writeRankedState contract
      .map(r => (r.getInt(0), r.get(1), r.get(2), r.getLong(3)))
      .sortBy(_._1)
    incrementalImpl(state, bounds, storedPairs, incoming, idCol, keyCol, w)
  }

  /** Shared core of the incremental faces: `bounds` is the collected
    * boundary directory (pid, lo key, lo id, min rank), sorted by pid.
    * Returns the merged pair set. */
  private def incrementalImpl(state: DataFrame,
      bounds: Array[(Int, Any, Any, Long)], storedPairs: DataFrame,
      incoming: DataFrame, idCol: String, keyCol: String,
      w: Int): DataFrame = {
    require(w >= 2, "window must cover at least two records")
    val spark = state.sparkSession
    val delta = (w - 1).toLong
    // cold start (round-14 ADVICE): no stored rows means no boundaries to
    // route by — the merged corpus IS the batch, and the batch pairs are
    // the whole answer (storedPairs is empty by the same contract)
    if (bounds.isEmpty) return pairs(incoming, idCol, keyCol, w)
    val routing = routeBatch(spark, bounds, state.schema("sk").dataType,
      state.schema("id").dataType, incoming, idCol, keyCol, delta)
    mergeCore(state, routing, storedPairs, w)._1.select("id1", "id2", "gap")
  }

  /** Driver-side batch routing shared by the in-memory and stored-layout
    * folds: route each incoming row to the pid whose boundary precedes
    * it, then derive the TOUCHED (≥ 1 insertion) and RELEVANT (within
    * w−1 stored ranks of a touched interval) pid sets — pure arithmetic
    * over the ≤ #partitions boundary rows. Everything here is a function
    * of (pre-fold bounds, batch) ONLY, so a replayed batch recomputes the
    * identical routing no matter how far the crashed original got. */
  private final case class BatchRouting(routed: DataFrame, metaDf: DataFrame,
      touched: Seq[Int], relevant: Seq[Int], relevantUntouched: Seq[Int],
      incCounts: Seq[(Int, Long)], delta: Long)

  private def routeBatch(spark: org.apache.spark.sql.SparkSession,
      bounds: Array[(Int, Any, Any, Long)],
      skType: org.apache.spark.sql.types.DataType,
      idType: org.apache.spark.sql.types.DataType,
      incoming: DataFrame, idCol: String, keyCol: String,
      delta: Long): BatchRouting = {
    import spark.implicits._
    val minPid = bounds.head._1
    val bschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bpid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("losk", skType),
      org.apache.spark.sql.types.StructField("loid", idType)))
    val boundRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(bounds.map { case (p, losk, loid, _) =>
        org.apache.spark.sql.Row(p, losk, loid) }: _*)
    val boundsDf = F.broadcast(spark.createDataFrame(boundRows, bschema))
    val inc = incoming.select(col(keyCol).as("sk"), col(idCol).as("id"))
    // consumed by counts + window + join
    val routed = Fixpoint.materializedLeaf(inc
      .join(boundsDf,
        struct(col("sk"), col("id")) >= struct(col("losk"), col("loid")),
        "left")
      .groupBy("sk", "id")
      .agg(coalesce(F.max("bpid"), lit(minPid)).as("pid")))
    // incoming-count prefix per pid (rows in EARLIER pids), broadcast back
    val incCounts = routed.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1) // ≤ parts
    val touched = incCounts.map(_._1)
    val incPrefix = bounds.map { case (p, _, _, _) =>
      p -> incCounts.filter(_._1 < p).map(_._2).sum }
    val metaDf = F.broadcast(
      bounds.map { case (p, _, _, r0) =>
        (p, r0, incPrefix.find(_._1 == p).map(_._2).getOrElse(0L))
      }.toSeq.toDF("pid", "r0", "ip"))
    // RELEVANT pids — the only ones whose rows can appear in a new pair,
    // shift into/out of a stored pair's window, or anchor an affected
    // probe: a pid whose stored rank interval [r0_i, r0_{i+1}) lies
    // within delta OLD ranks of a touched pid's interval (rank distance
    // in the merged order is ≥ the stored distance — insertions only
    // push rows apart — so stored-interval slack is conservative-exact).
    // Driver arithmetic over the ≤ #partitions boundary rows; on a
    // stored layout the isin filters downstream prune directories.
    val touchedSet = touched.toSet
    val r0s = bounds.map(_._4)
    val ends = r0s.drop(1) :+ Long.MaxValue
    val touchedIdx = bounds.indices.filter(i => touchedSet(bounds(i)._1))
    val relevant = bounds.indices.filter { i =>
      touchedSet(bounds(i)._1) || touchedIdx.exists { t =>
        val extEnd = if (ends(t) == Long.MaxValue) Long.MaxValue
                     else ends(t) + delta
        r0s(i) < extEnd && ends(i) > r0s(t) - delta
      }
    }.map(i => bounds(i)._1)
    BatchRouting(routed, metaDf, touched.toSeq, relevant,
      relevant.filterNot(touchedSet), incCounts.toSeq, delta)
  }

  /** Merge core shared by the in-memory and stored-layout folds. `state`
    * must cover AT LEAST the routing's relevant pids (the stored-layout
    * fold passes exactly those, directory-pruned); pairs come back WITH
    * the anchor pid (`apid` = pid of id1 — immutable, rows never change
    * pid) so the stored layout can partition by it; the in-memory faces
    * drop it. Old ranks for the affected-pair probe are derived INSIDE
    * the merged window (`oldrank` = r0 + old local position − 1), never
    * read from the stored rank/lrank column of a touched pid — that
    * makes the probe a pure function of (bounds, (sk, id) sets), so a
    * replayed fold over partially-rewritten state partitions still
    * computes the original run's exact affected set (the stored-layout
    * crash-safety argument), and it saves the third full state scan the
    * previous shape paid. */
  private def mergeCore(state: DataFrame, routing: BatchRouting,
      storedPairs: DataFrame, w: Int): (DataFrame, DataFrame) = {
    val delta = routing.delta
    val metaDf = routing.metaDf
    // 2. merged ranks: touched pids re-window locally; the rest shift.
    // icnt (running incoming count within the pid) gives incoming rows
    // their old-rank insertion point p = r0 + lpos − icnt (see doc).
    val exTouched = state
      .filter(col("pid").isin(routing.touched.map(Int.box): _*))
      .select(col("pid"), col("id"), col("sk")).withColumn("is_new", lit(0))
    val incTagged = routing.routed.select(col("pid"), col("id"), col("sk"))
      .withColumn("is_new", lit(1))
    val lwin = Window.partitionBy("pid").orderBy("sk", "id")
    val mergedTouched = exTouched.unionByName(incTagged)
      .withColumn("lpos", row_number().over(lwin).cast("long"))
      .withColumn("icnt", sum("is_new").over(
        lwin.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(metaDf, "pid")
      .select(col("id"), col("sk"),
        (col("r0") + col("ip") + col("lpos") - 1L).as("rank"), col("is_new"),
        (col("r0") + col("lpos") - col("icnt")).as("insp"), col("pid"),
        // existing rows' exact OLD rank: r0 + (position among existing
        // rows only) − 1 — see class doc, replay-robust by construction
        when(col("is_new") === 0,
          col("r0") + col("lpos") - col("icnt") - 1L).as("oldrank"))
    val untouched = state
      .filter(col("pid").isin(routing.relevantUntouched.map(Int.box): _*))
      .join(metaDf, "pid")
      .select(col("id"), col("sk"), (col("rank") + col("ip")).as("rank"),
        lit(0).as("is_new"), lit(null).cast("long").as("insp"), col("pid"),
        col("rank").as("oldrank"))
    // probe + target + affected share it
    val merged = Fixpoint.materializedLeaf(mergedTouched.unionByName(untouched))
    // 3. new pairs: banded rank join, the batch side broadcast so the
    // merged relation is scanned, never shuffled
    val probe = merged.filter(col("is_new") === 1)
      .select(col("id").as("iid"), col("rank").as("irank"),
        col("pid").as("ipid"),
        explode(array(expr(s"rank div $delta - 1"), expr(s"rank div $delta"),
          expr(s"rank div $delta + 1"))).as("b"))
    val target = merged.select(col("id").as("tid"), col("rank").as("trank"),
      col("pid").as("tpid"), expr(s"rank div $delta").as("b"))
    val newPairs = target.join(F.broadcast(probe), Seq("b"))
      .filter(col("trank") =!= col("irank") &&
        F.abs(col("trank") - col("irank")) <= delta)
      .select(
        when(col("irank") < col("trank"), col("iid")).otherwise(col("tid")).as("id1"),
        when(col("irank") < col("trank"), col("tid")).otherwise(col("iid")).as("id2"),
        F.abs(col("trank") - col("irank")).as("gap"),
        when(col("irank") < col("trank"), col("ipid")).otherwise(col("tpid")).as("apid"))
      .distinct() // both-incoming pairs are found from each side once
    // 4. split stored pairs by the affected-id1 candidate set: existing
    // OLD ranks in [p − delta, p) for some insertion point p — a
    // broadcast banded probe of the merged view's exact old ranks
    // (≤ |batch|·delta candidates)
    val ips = merged.filter(col("is_new") === 1)
      .select(col("insp").as("p"),
        explode(array(expr(s"(insp - 1) div $delta"),
          expr(s"(insp - $delta) div $delta"))).as("b"))
      .distinct()
    // bounded: |batch| · (w−1)
    val affectedA = Fixpoint.materializedLeaf(merged.filter(col("is_new") === 0)
      .withColumn("b", expr(s"oldrank div $delta"))
      .join(F.broadcast(ips), Seq("b"))
      .filter(col("oldrank") >= col("p") - delta && col("oldrank") < col("p"))
      .select(col("id").as("id1")).distinct())
    val storedA =
      if (storedPairs.columns.contains("apid")) storedPairs
      else storedPairs.withColumn("apid", lit(null).cast("int"))
    val unaffected = storedA
      .join(F.broadcast(affectedA), Seq("id1"), "left_anti")
    // bounded, feeds the endpoint probe
    val affected = Fixpoint.materializedLeaf(storedA
      .join(F.broadcast(affectedA), Seq("id1"), "left_semi"))
    // re-gap the (small) affected set against merged ranks — endpoint
    // ids broadcast so merged is scanned once more, never shuffled
    val endIds = affected.select(col("id1").as("id"))
      .unionByName(affected.select(col("id2").as("id"))).distinct()
    val endRanks = merged.join(F.broadcast(endIds), Seq("id"))
      .select(col("id"), col("rank"))
    val regapped = affected.select("id1", "id2", "apid")
      .join(endRanks.select(col("id").as("id1"), col("rank").as("r1")), Seq("id1"))
      .join(endRanks.select(col("id").as("id2"), col("rank").as("r2")), Seq("id2"))
      .filter(col("r2") - col("r1") <= delta)
      .select(col("id1"), col("id2"), (col("r2") - col("r1")).as("gap"),
        col("apid"))
    val mergedPairs = unaffected.select("id1", "id2", "gap", "apid")
      .unionByName(regapped)
      .unionByName(newPairs)
    // the post-merge ranked state: relevant pids come from the merged
    // view; non-relevant pids shift by the broadcast offset only — their
    // rows never enter a window or a join
    val nonRelevant = state
      .filter(!col("pid").isin(routing.relevant.map(Int.box): _*))
      .join(metaDf, "pid")
      .select(col("id"), col("sk"), (col("rank") + col("ip")).as("rank"),
        col("pid"))
    val newState = merged.select("id", "sk", "rank", "pid")
      .unionByName(nonRelevant)
    (mergedPairs, newState)
  }

  // ------------------------------------------------------------------
  // Bounded-write LOCAL-rank deployment layout (r15 verdict item 1):
  // the streaming fold's store. Global ranks are NOT materialized —
  //   state:  (id, sk, lrank) PARTITIONED BY pid   (lrank local to pid)
  //   bounds: (pid, losk, loid, cnt) PARTITIONED BY batch_id (tiny)
  //   pairs:  (id1, id2, gap) PARTITIONED BY apid  (pid of id1)
  // global rank = prefix-sum(cnt over earlier pids) + lrank, recovered
  // from the ≤ #partitions bounds rows on the driver. An insertion batch
  // therefore rewrites ONLY the touched pid partitions (their local
  // orders changed), the relevant apid pair partitions, and the tiny
  // bounds snapshot — an untouched pid's rank shift lives entirely in
  // the driver-side prefix sums, its bytes never rewritten. That is the
  // bounded-write property the global-rank snapshot layout cannot have
  // (every insertion shifts every later stored rank).
  //
  // Replay/crash discipline (no corpus-sized batch_id snapshots needed):
  //  - bounds are batch_id-snapshotted (tiny), and a fold reads the
  //    LATEST snapshot < its own batch id — so a replayed batch routes
  //    and ranks against the exact pre-fold directory, no matter what
  //    the crashed original wrote;
  //  - the batch's ids are broadcast-anti-joined out of the state and
  //    pair reads (a no-op on a first run — idCol is unique by the
  //    class contract), so a replay that finds its own rows already
  //    folded heals them out and re-merges identically;
  //  - the affected-pair probe uses mergeCore's window-derived exact
  //    old ranks, never a touched partition's stored lrank — correct
  //    even over a partially-committed dynamic overwrite;
  //  - unaffected stored pairs are gap-invariant by definition (both
  //    endpoints shift equally), so pre- vs post-fold partition content
  //    is indistinguishable to the replay.
  // Net: the fold is idempotent — StreamingSpec replays a fully-written
  // fold and asserts byte-stable state/pairs/bounds.
  // ------------------------------------------------------------------

  /** One trigger of the bounded-write ingest: merge `incoming` into the
    * local-rank store at `statePath`/`pairsPath` under `batchId`
    * (cold-starts the store if no bounds snapshot precedes `batchId`).
    * Writes are batch-proportional: touched pid partitions + relevant
    * apid pair partitions + the ≤ #partitions bounds snapshot —
    * StreamingSpec meters filesystem WRITES per trigger against the
    * state size. The scattered floor mirrors the read side: a batch that
    * touches every pid rewrites every pid (rank-shift semantics, not a
    * layout defect). Runs as one [[Fixpoint.scope]]: every checkpoint the
    * fold takes is released once its writes are done. */
  def ingestLocalStore(spark: org.apache.spark.sql.SparkSession,
      statePath: String, pairsPath: String, incoming: DataFrame,
      idCol: String, keyCol: String, w: Int, batchId: Long): Unit =
    Fixpoint.scope(foldLocalStore(spark, statePath, pairsPath, incoming, idCol, keyCol, w, batchId))

  private def foldLocalStore(spark: org.apache.spark.sql.SparkSession,
      statePath: String, pairsPath: String, incoming: DataFrame,
      idCol: String, keyCol: String, w: Int, batchId: Long): Unit = {
    require(w >= 2, "window must cover at least two records")
    import spark.implicits._
    val delta = (w - 1).toLong
    val boundsPath = statePath + BoundsSuffix
    val bp = new org.apache.hadoop.fs.Path(boundsPath)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // latest bounds snapshot strictly before this batch — the replay pin
    val prior: Option[Long] =
      if (!fs.exists(bp)) None
      else fs.listStatus(bp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .flatMap(n => scala.util.Try(
          n.stripPrefix("batch_id=").toLong).toOption)
        .filter(_ < batchId).sorted.lastOption
    val boundsRows: Array[(Int, Any, Any, Long)] = prior match {
      case None => Array.empty
      case Some(pb) => spark.read.parquet(boundsPath)
        .filter(col("batch_id") === pb)
        .select("pid", "losk", "loid", "cnt").collect()
        .map(r => (r.getInt(0), r.get(1), r.get(2), r.getLong(3)))
        .sortBy(_._1)
    }
    if (boundsRows.isEmpty) { // cold start — the one whole-corpus sort
      if (incoming.isEmpty) return
      // counts + lrank + pairs share it
      val st = Fixpoint.materializedLeaf(rankedState(incoming, idCol, keyCol))
      val agg = pidBounds(st, count(lit(1)).as("c"))
        .collect() // ≤ #partitions rows by the rankedState contract
        .map(r => (r.getInt(0), r.getLong(2), r.getStruct(1).get(0),
          r.getStruct(1).get(1), r.getLong(3)))
        .sortBy(_._1)
      val r0Df = F.broadcast(agg.map(a => (a._1, a._2)).toSeq.toDF("pid", "r0"))
      st.join(r0Df, "pid")
        .select(col("id"), col("sk"), (col("rank") - col("r0")).as("lrank"),
          col("pid"))
        .write.mode("overwrite").partitionBy("pid").parquet(statePath)
      // pairs + their anchor pid from the rank intervals (broadcast
      // range table on ts_a = id1's rank — no corpus-sized join)
      val ivDf = F.broadcast(agg.map(a => (a._1, a._2, a._2 + a._5))
        .toSeq.toDF("apid", "ivlo", "ivhi"))
      RangeJoin
        .pairsWithin(st.withColumn("all", lit(1)), "all", "id", "rank", delta)
        .join(ivDf, col("ts_a") >= col("ivlo") && col("ts_a") < col("ivhi"))
        .select(col("id_a").as("id1"), col("id_b").as("id2"),
          (col("ts_b") - col("ts_a")).as("gap"), col("apid"))
        .write.mode("overwrite").partitionBy("apid").parquet(pairsPath)
      writeBounds(spark, st.schema("sk").dataType, st.schema("id").dataType,
        agg.map(a => (a._1, a._3, a._4, a._5)), boundsPath, batchId)
      return
    }
    val r0s = boundsRows.map(_._4).scanLeft(0L)(_ + _).init
    val bounds = boundsRows.zip(r0s).map { case ((p, lk, li, _), r0) =>
      (p, lk, li, r0) }
    val stateRaw = spark.read.parquet(statePath)
    val routing = routeBatch(spark, bounds, stateRaw.schema("sk").dataType,
      stateRaw.schema("id").dataType, incoming, idCol, keyCol, delta)
    if (routing.touched.isEmpty) return // empty trigger: nothing to fold
    val incIds = F.broadcast(Fixpoint.materializedLeaf(routing.routed.select("id")))
    val r0Df = F.broadcast(bounds.map(b => (b._1, b._4)).toSeq.toDF("pid", "r0"))
    // relevant-pid state, directory-pruned, replay-healed, global ranks
    // rebuilt from the driver prefix sums
    val relevantState = stateRaw
      .filter(col("pid").isin(routing.relevant.map(Int.box): _*))
      .join(incIds, Seq("id"), "left_anti")
      .join(r0Df, "pid")
      .select(col("id"), col("sk"), (col("r0") + col("lrank")).as("rank"),
        col("pid"))
    val storedPairs = readPairPartitions(spark, pairsPath, relevantState,
        routing.relevant)
      .join(incIds.select(col("id").as("id1")), Seq("id1"), "left_anti")
      .join(incIds.select(col("id").as("id2")), Seq("id2"), "left_anti")
    val (pairsOut, newState) = mergeCore(relevantState, routing, storedPairs, w)
    // sever every read of the two directories before overwriting them
    val pr = Fixpoint.materializedLeaf(pairsOut)
    val touchedState = Fixpoint.materializedLeaf(newState
      .filter(col("pid").isin(routing.touched.map(Int.box): _*))
      .join(routing.metaDf, "pid")
      .select(col("id"), col("sk"),
        (col("rank") - col("r0") - col("ip")).as("lrank"), col("pid")))
    // post-fold bounds: touched pids recomputed from the rows actually
    // being written (never old-cnt + batch-count arithmetic — robust to
    // healing); untouched pids carry over verbatim
    val touchedAgg = touchedState.groupBy("pid").agg(
        F.min(struct(col("sk"), col("id"))).as("lo"), count(lit(1)).as("c"))
      .collect() // ≤ #partitions rows
      .map(r => r.getInt(0) -> (r.getStruct(1).get(0), r.getStruct(1).get(1),
        r.getLong(2))).toMap
    val newBounds = boundsRows.map { case (p, lk, li, c) =>
      touchedAgg.get(p) match {
        case Some((nlk, nli, nc)) => (p, nlk, nli, nc)
        case None => (p, lk, li, c)
      }
    }
    def dynWrite(df: DataFrame, part: String, dir: String): Unit =
      df.write.partitionBy(part).option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
    dynWrite(pr, "apid", pairsPath)
    dynWrite(touchedState, "pid", statePath)
    // bounds land LAST — their new snapshot is the fold's commit point —
    // then snapshots older than the one this fold read retire (a replay
    // of batch N only ever needs N's prior, which survives)
    writeBounds(spark, stateRaw.schema("sk").dataType,
      stateRaw.schema("id").dataType, newBounds, boundsPath, batchId)
    prior.foreach { pb =>
      fs.listStatus(bp).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("batch_id=") && scala.util.Try(
            n.stripPrefix("batch_id=").toLong).toOption.exists(_ < pb))
          fs.delete(s.getPath, true)
      }
    }
  }

  /** The running pair set of a local-rank store: (id1, id2, gap). */
  def readLocalPairs(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String): DataFrame =
    spark.read.parquet(pairsPath).select("id1", "id2", "gap")

  /** The ranked state of a local-rank store with GLOBAL ranks rebuilt
    * from the latest bounds snapshot — the [[rankedState]] shape
    * (id, sk, rank, pid), for audits and hand-offs to the batch faces. */
  def readLocalState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    import spark.implicits._
    val boundsPath = statePath + BoundsSuffix
    val latest = spark.read.parquet(boundsPath)
      .groupBy("pid").agg(F.max("batch_id").as("b"))
    val cnts = spark.read.parquet(boundsPath)
      .join(latest, Seq("pid"))
      .filter(col("batch_id") === col("b"))
      .select("pid", "cnt").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val r0s = cnts.map(_._2).scanLeft(0L)(_ + _).init
    val r0Df = F.broadcast(cnts.map(_._1).zip(r0s).toSeq.toDF("pid", "r0"))
    spark.read.parquet(statePath).join(r0Df, "pid")
      .select(col("id"), col("sk"), (col("r0") + col("lrank")).as("rank"),
        col("pid"))
  }

  /** Relevant-apid pair partitions, or a typed empty relation when the
    * store holds no pair files yet (a single-row cold start writes an
    * empty directory — parquet cannot infer a schema from zero files). */
  private def readPairPartitions(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, stateForTypes: DataFrame,
      relevant: Seq[Int]): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pairsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasFiles = fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    if (!hasFiles)
      stateForTypes.select(col("id").as("id1"), col("id").as("id2"),
        lit(0L).as("gap"), col("pid").as("apid")).limit(0)
    else spark.read.parquet(pairsPath)
      .filter(col("apid").isin(relevant.map(Int.box): _*))
      .select("id1", "id2", "gap", "apid")
  }

  /** Write a bounds snapshot (pid, losk, loid, cnt) under `batch_id=id`
    * — generic (sk, id) types, the [[routeBatch]] bschema pattern. */
  private def writeBounds(spark: org.apache.spark.sql.SparkSession,
      skType: org.apache.spark.sql.types.DataType,
      idType: org.apache.spark.sql.types.DataType,
      rows: Seq[(Int, Any, Any, Long)], boundsPath: String, id: Long): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("losk", skType),
      org.apache.spark.sql.types.StructField("loid", idType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val jrows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(rows.map { case (p, lk, li, c) =>
        org.apache.spark.sql.Row(p, lk, li, c) }: _*)
    spark.createDataFrame(jrows, schema).coalesce(1)
      .withColumn("batch_id", lit(id))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(boundsPath)
  }
}

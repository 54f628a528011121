package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Edit-distance similarity JOIN via deletion-neighborhood blocking
  * (FastSS — Bocek et al., U. Zurich TR 2007): all unordered pairs of
  * rows whose strings are within Levenshtein distance 1, without ever
  * forming the all-pairs relation.
  *
  * Blocking law (k = 1): ed(a, b) ≤ 1 implies a and b share a member of
  * {s} ∪ del1(s) — equal strings share s itself, a substitution pair
  * shares the deletion at the substituted position, an insertion/
  * deletion pair shares the shorter string. So an equi-join on the
  * deletion variants is candidate-COMPLETE, and the exact levenshtein
  * verify restores precision (variant-sharing pairs can be at distance
  * 2 — e.g. a deletion of a and an insertion into b at different spots).
  * EditJoinSpec pins completeness against a brute-force all-pairs DP —
  * the algebraic property a parity oracle alone cannot see.
  *
  * 100 TB design: the candidate relation is banded, never quadratic —
  * each variant v of length m is shared only by strings obtainable from
  * v by inserting at most one character, so a bucket's size is
  * STRUCTURALLY bounded by (m+1)·|Σ| + 1 (alphabet Σ), independent of
  * corpus size: no postings cap, no salting needed — the df bound that
  * LSH band joins get probabilistically, this blocking gets by
  * construction. Candidate generation is O(n·L) rows of width ≤ L.
  * Empty strings are dropped (the empty variant is degenerate — every
  * 1-char string matches it — and Spark's `sequence(1, 0)` would run
  * DESCENDING where DuckDB's `range(1, 1)` is empty, a cross-engine
  * trap documented here so the oracle's WHERE length > 0 stays in step).
  */
object EditJoin {

  /** Deletion variants as a SQL expression: the string itself plus every
    * single-character deletion, deduplicated (adjacent equal characters
    * yield equal variants). */
  def variantsExpr(s: String): String =
    s"array_union(array($s), transform(sequence(1, length($s)), " +
      s"i -> concat(substr($s, 1, i - 1), substr($s, i + 1))))"

  /** Depth-≤2 deletion neighborhood: the string, every 1-deletion, and
    * every 2-deletion (positions i < j), deduplicated. The i-range is
    * `slice(sequence(1, L), 1, L - 1)` rather than `sequence(1, L - 1)`
    * because Spark's sequence RUNS DESCENDING when start > stop (the
    * L = 1 case) — slice of length 0 is safely empty; the j-range
    * `sequence(i + 1, L)` has i ≤ L − 1 so it never descends. */
  def variants2Expr(s: String): String =
    s"array_distinct(concat(" +
      s"array($s), " +
      s"transform(sequence(1, length($s)), " +
      s"i -> concat(substr($s, 1, i - 1), substr($s, i + 1))), " +
      s"flatten(transform(slice(sequence(1, length($s)), 1, length($s) - 1), " +
      s"i -> transform(sequence(i + 1, length($s)), " +
      s"j -> concat(substr($s, 1, i - 1), substr($s, i + 1, j - i - 1), " +
      s"substr($s, j + 1)))))))"

  /** Candidate-pair budget above which [[pairsWithin2]] refuses to join
    * by default (the kTruss wedge-budget pattern): the guarded quantity
    * is the join's exact fan-out Σ_v cnt(v)² over variant buckets — the
    * number of candidate rows the equi-join will actually emit. The k=2
    * bucket bound grows to ~O(L²·|Σ|²) (insert up to two characters
    * back), so unlike k=1 the fan-out deserves a measurement before the
    * spend; ~2e8 candidate rows is tens of seconds on 32 cores. Callers
    * who know their corpus pass an explicit budget. */
  val DefaultPairs2CandidateBudget = 200000000L

  /** The duplicate-safe twin of [[pairsWithin1]]: exact-duplicate
    * strings collapse to one representative (min id) BEFORE the blocked
    * join, and the result carries pair MULTIPLICITIES instead of
    * exploded pairs — one row per unordered group pair (rep1 < rep2,
    * n_pairs = n1·n2) plus one row per duplicated group (rep1 = rep2,
    * dist 0, n_pairs = C(n, 2)). Total Σ n_pairs equals the exploded
    * form's row count exactly (EditJoinSpec pins it), but the OUTPUT is
    * bounded in DISTINCT strings: a corpus where one identity repeats a
    * million times costs one group row here where the exploded form
    * must write ~5·10^11 real pairs — the duplicate-identity regime the
    * sweep prices at 4.6x, closed the way corenessAgg closed the hub
    * (restate the result, don't cap it). */
  def pairsWithin1Grouped(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // one pass feeds blocking + sizes (AQE coalesces this tiny agg output
    // to one partition; the fan-out defense lives in pairsWithin1, which
    // re-spreads by id)
    val g = Fixpoint.materializedLeaf(df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
      .groupBy("s").agg(min("id").as("rep"), count(lit(1)).as("n")))
    val intra = g.filter(col("n") > 1)
      .select(col("rep").as("rep1"), col("rep").as("rep2"),
        lit(0L).as("dist"), expr("n * (n - 1) div 2").as("n_pairs"))
    val inter = pairsWithin1(g.select(col("rep"), col("s")), "rep", "s")
      .join(g.select(col("rep").as("id1"), col("n").as("n1")), "id1")
      .join(g.select(col("rep").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1").as("rep1"), col("id2").as("rep2"), col("dist"),
        (col("n1") * col("n2")).as("n_pairs"))
    intra.unionByName(inter)
  }

  /** Duplication ratio (rows / distinct strings) above which
    * [[pairsWithin1Auto]] routes to the grouped twin — same calibration
    * as Dedup.WinnowAutoDupRatio (curated corpora sit at ~1.0; the
    * duplicate-identity regime the route exists for is decades past 2):
    * below it the exploded relation is at most ~n rows larger than the
    * grouped one and skips the groupBy + two multiplicity joins; above
    * it the exploded OUTPUT is quadratic in replicas (the 2.74x sweep
    * row) while the grouped twin stays bounded in DISTINCT strings. */
  val AutoDupRatio = 2.0

  /** Single edit-join entry point (the winnowPairsAuto recipe): one
    * 16 B/row probe aggregate (rows vs distinct strings) picks the
    * execution. Output is ALWAYS the grouped schema (rep1, rep2, dist,
    * n_pairs) so the route is invisible to consumers:
    *  - ratio ≤ [[AutoDupRatio]]: the exploded join runs and each real
    *    pair is emitted with n_pairs = 1 (ids are raw ids — on
    *    duplicate-free data this IS the grouped relation, the
    *    conservation law EditJoinSpec pins);
    *  - ratio above: [[pairsWithin1Grouped]] — duplicate families
    *    collapse to min-id representatives with exact multiplicities,
    *    and the replica-quadratic output never exists. */
  def pairsWithin1Auto(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val st = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
    val probe = st.agg(count(lit(1)).as("n"),
      count_distinct(col("s")).as("nd")).head()
    val (n, nd) = (probe.getLong(0), probe.getLong(1))
    if (nd > 0 && n.toDouble / nd > AutoDupRatio)
      pairsWithin1Grouped(df, idCol, strCol)
    else
      pairsWithin1(df, idCol, strCol)
        .select(col("id1").as("rep1"), col("id2").as("rep2"),
          col("dist"), lit(1L).as("n_pairs"))
  }

  /** k = 2 twin of [[pairsWithin1Auto]] (r14 verdict item 4): the same
    * one-aggregate duplication probe picks exploded vs grouped execution
    * at distance 2, output always the grouped schema. The Σcnt² budget
    * guard is FOLDED IN on both routes — the exploded path measures the
    * raw relation's fan-out, the grouped path measures the collapsed
    * relation's (inside [[pairsWithin2Grouped]]'s call), which is the
    * point of routing: a duplicate-heavy corpus that would blow the raw
    * budget can pass it grouped. */
  def pairsWithin2Auto(df: DataFrame, idCol: String, strCol: String,
      maxCandidates: Long = DefaultPairs2CandidateBudget): DataFrame = {
    val st = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
    val probe = st.agg(count(lit(1)).as("n"),
      count_distinct(col("s")).as("nd")).head()
    val (n, nd) = (probe.getLong(0), probe.getLong(1))
    if (nd > 0 && n.toDouble / nd > AutoDupRatio)
      pairsWithin2Grouped(df, idCol, strCol, maxCandidates)
    else
      pairsWithin2(df, idCol, strCol, maxCandidates)
        .select(col("id1").as("rep1"), col("id2").as("rep2"),
          col("dist"), lit(1L).as("n_pairs"))
  }

  /** The depth-1 deletion-variant relation (id, s, v) — the BLOCKING
    * INDEX of [[pairsWithin1]], exposed so an ingest pipeline can store
    * it and join only incoming batches against it
    * ([[incrementalPairsWithin1]]). Carries the explicit-count
    * repartition defense: a small scan (or AQE-coalesced upstream) would
    * hand the ×(L+1) fan-out and the join build ONE partition and
    * everything downstream runs single-threaded (measured 73 s vs 8 s at
    * 150k names in the grouped twin; the sf0.1 catalog face dropped
    * 6.2 s → ~2.5 s). Explicit-count repartition is exempt from AQE
    * coalescing; spread by the unique id. */
  def variantIndex(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .select(col("id"), col("s"), explode(expr(variantsExpr("s"))).as("v"))

  /** All unordered pairs (id1 < id2) of `df` rows with
    * levenshtein(str1, str2) ≤ 1, with the exact distance. `idCol` must
    * be unique per row; empty strings are dropped (see class doc). */
  def pairsWithin1(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val vars = variantIndex(df, idCol, strCol)
    val a = vars.select(col("id").as("id1"), col("s").as("s1"), col("v"))
    val b = vars.select(col("id").as("id2"), col("s").as("s2"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "s1", "s2").distinct()
      .filter(expr("levenshtein(s1, s2) <= 1"))
      .select(col("id1"), col("id2"),
        expr("CAST(levenshtein(s1, s2) AS BIGINT)").as("dist"))
  }

  /** Incremental twin of [[pairsWithin1]] (round-13 verdict item 4a —
    * the incrementalDeduplicate convention): merge a new `incoming`
    * batch into an already-joined corpus whose stored state is
    * (`existingIndex` = the [[variantIndex]] of the existing rows,
    * `storedPairs` = their [[pairsWithin1]] output). The batch's
    * variants join against index ∪ batch — NEVER existing-vs-existing,
    * so per-batch cost is linear in the batch plus its candidates, and
    * the existing corpus's STRINGS are never re-shingled. Exactly
    * equivalent to `pairsWithin1(existing ∪ incoming)`: a qualifying
    * pair either lies wholly in the existing corpus (in `storedPairs`)
    * or touches ≥ 1 incoming row — and then it shares a variant with
    * that row's depth-1 neighborhood, which the batch side generates.
    * The union-replay oracle (q_text_editjoin_inc) checks the equality
    * literally. */
  def incrementalPairsWithin1(existingIndex: DataFrame, storedPairs: DataFrame,
      incoming: DataFrame, idCol: String, strCol: String): DataFrame =
    incrementalFromIndex(existingIndex, storedPairs,
      variantIndex(incoming, idCol, strCol), maxDist = 1)

  /** The depth-≤2 variant relation (id, s, v) — [[pairsWithin2]]'s
    * blocking index, exposed as stored state for
    * [[incrementalPairsWithin2]] (the [[variantIndex]] convention). */
  def variant2Index(df: DataFrame, idCol: String, strCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id"))
      .select(col("id"), col("s"), explode(expr(variants2Expr("s"))).as("v"))

  /** Incremental twin of [[pairsWithin2]]: same contract as
    * [[incrementalPairsWithin1]] with the stored state being the
    * depth-≤2 index — a qualifying new pair shares a depth-≤2 variant
    * with its incoming member, so batch-vs-(index ∪ batch) loses no
    * edge. No budget guard here: the stored index was built under
    * [[pairsWithin2]]'s guard, and the batch side's fan-out is the
    * caller's per-batch sizing (spec pins equality with the batch run
    * over the union). */
  def incrementalPairsWithin2(existingIndex: DataFrame, storedPairs: DataFrame,
      incoming: DataFrame, idCol: String, strCol: String): DataFrame =
    incrementalFromIndex(existingIndex, storedPairs,
      variant2Index(incoming, idCol, strCol), maxDist = 2)

  /** New pairs TOUCHING a batch, given the stored variant index and the
    * batch's own index: batch-vs-(index ∪ batch) — pairs within the
    * batch plus batch-vs-existing, each exactly once. This is the
    * streaming EMISSION ([[graft.streaming.CorpusStreams]] editJoinIngest):
    * over a stream of batches, each qualifying pair is emitted at its
    * LATER member's batch, so the per-batch union equals the one-shot
    * batch run exactly. Pairs orient by id (strings swap with them),
    * candidate DISTINCT, exact verify at `maxDist`. */
  def newPairsAgainstIndex(existingIndex: DataFrame, incIndex: DataFrame,
      maxDist: Int): DataFrame = {
    val all = existingIndex.select("id", "s", "v")
      .unionByName(incIndex.select("id", "s", "v"))
    incIndex
      .select(col("id").as("ia"), col("s").as("sa"), col("v"))
      .join(all.select(col("id").as("ib"), col("s").as("sb"), col("v")), Seq("v"))
      .filter(col("ia") =!= col("ib"))
      .select(
        least(col("ia"), col("ib")).as("id1"),
        greatest(col("ia"), col("ib")).as("id2"),
        when(col("ia") < col("ib"), col("sa")).otherwise(col("sb")).as("s1"),
        when(col("ia") < col("ib"), col("sb")).otherwise(col("sa")).as("s2"))
      .distinct()
      .filter(expr(s"levenshtein(s1, s2) <= $maxDist"))
      .select(col("id1"), col("id2"),
        expr("CAST(levenshtein(s1, s2) AS BIGINT)").as("dist"))
  }

  /** Shared incremental protocol of the two edit-join depths: the new
    * pairs touching the batch ([[newPairsAgainstIndex]]) union the
    * stored pairs (disjoint by construction: stored pairs are
    * existing-existing, new pairs touch ≥ 1 incoming id). */
  private def incrementalFromIndex(existingIndex: DataFrame,
      storedPairs: DataFrame, incIndex: DataFrame, maxDist: Int): DataFrame =
    storedPairs.unionByName(
      newPairsAgainstIndex(existingIndex, incIndex, maxDist))

  /** All unordered pairs (id1 < id2) within levenshtein distance 2, via
    * the depth-≤2 deletion neighborhood: ed(a, b) ≤ 2 implies a and b
    * share a member of D≤2 — align an optimal edit script and delete
    * each side's edited characters (≤ 2 per side) down to a common
    * subsequence — so the equi-join on [[variants2Expr]] is candidate-
    * complete (EditJoinSpec pins it against the brute-force DP at k=2)
    * and the exact verify restores precision. Empty VARIANTS are kept:
    * dropping them would lose pairs of 1–2-char strings whose only
    * shared member is "" (the bucket is still structurally bounded —
    * only strings of length ≤ 2 reach it, ≤ |Σ|²+|Σ|+1 of which exist).
    *
    * Scale guard: unlike k=1's (L+1)·|Σ|+1, the k=2 bucket bound grows
    * ~O(L²·|Σ|²), so the join's EXACT fan-out (Σ cnt² over buckets) is
    * measured first — one aggregate over the variant relation — and the
    * join refuses above `maxCandidates` with guidance (the kTruss
    * budget-guard pattern) instead of silently burning a cluster. */
  def pairsWithin2(df: DataFrame, idCol: String, strCol: String,
      maxCandidates: Long = DefaultPairs2CandidateBudget): DataFrame = {
    val vars = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("id")) // the AQE single-partition fan-out defense (class doc)
      .select(col("id"), col("s"), explode(expr(variants2Expr("s"))).as("v"))
    // density guard: one cheap aggregate prices the join before paying it
    // (coalesce: sum over ZERO bucket rows — empty/all-empty-string input
    // — is NULL, which must price as zero fan-out, not throw; r14 ADVICE)
    val fanout = vars.groupBy("v").agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(expr("cnt * cnt")), lit(0L)).as("f"))
      .first().getLong(0)
    if (fanout > maxCandidates)
      throw new IllegalArgumentException(
        s"pairsWithin2: variant buckets fan out to $fanout candidate rows " +
          s"(> budget $maxCandidates); at k = 2 bucket occupancy grows " +
          "with L²·|Σ|² — pre-block the corpus (length/prefix buckets), " +
          "run pairsWithin1, or pass an explicit maxCandidates to proceed")
    val a = vars.select(col("id").as("id1"), col("s").as("s1"), col("v"))
    val b = vars.select(col("id").as("id2"), col("s").as("s2"), col("v"))
    a.join(b, Seq("v"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "s1", "s2").distinct()
      .filter(expr("levenshtein(s1, s2) <= 2"))
      .select(col("id1"), col("id2"),
        expr("CAST(levenshtein(s1, s2) AS BIGINT)").as("dist"))
  }

  /** Duplicate-safe grouped twin of [[pairsWithin2]] — identical
    * restatement to [[pairsWithin1Grouped]] (collapse exact duplicates
    * to a min-id representative BEFORE blocking; carry multiplicities,
    * output bounded in DISTINCT strings) at distance 2. */
  def pairsWithin2Grouped(df: DataFrame, idCol: String, strCol: String,
      maxCandidates: Long = DefaultPairs2CandidateBudget): DataFrame = {
    // one pass feeds blocking + sizes
    val g = Fixpoint.materializedLeaf(df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) > 0)
      .groupBy("s").agg(min("id").as("rep"), count(lit(1)).as("n")))
    val intra = g.filter(col("n") > 1)
      .select(col("rep").as("rep1"), col("rep").as("rep2"),
        lit(0L).as("dist"), expr("n * (n - 1) div 2").as("n_pairs"))
    val inter = pairsWithin2(g.select(col("rep"), col("s")), "rep", "s",
        maxCandidates)
      .join(g.select(col("rep").as("id1"), col("n").as("n1")), "id1")
      .join(g.select(col("rep").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1").as("rep1"), col("id2").as("rep2"), col("dist"),
        (col("n1") * col("n2")).as("n_pairs"))
    intra.unionByName(inter)
  }
}

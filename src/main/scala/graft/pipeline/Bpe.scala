package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextHash.wordsSpark
import graft.iterate.Fixpoint

/** Byte-pair-encoding merge training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the tokenizer-
  * construction step of an LLM data pipeline, run where the data is.
  *
  * Semantics (the reference algorithm, relationalized):
  *  - train on the corpus WORD FREQUENCY table, not raw text: merges act
  *    within words, never across them (no end-of-word marker — merges are
  *    word-internal only, a documented simplification);
  *  - each round counts all adjacent symbol pairs weighted by word
  *    frequency (overlapping occurrences included, as in the reference
  *    implementation's get_stats), picks the max pair with a total
  *    (count DESC, left ASC, right ASC) tie-break, and rewrites every
  *    word by greedy left-to-right non-overlapping replacement — in a
  *    run of consecutive matches only every other one merges, exactly
  *    what sequential replacement does.
  *
  * Determinism: pair counts are exact int64 sums; tie-breaks are total
  * orders over ASCII strings (the vocabulary is gated to ^[a-z]+$); the
  * greedy keep-set is pure integer window arithmetic. The DuckDB oracle
  * unrolls the same rounds CTE-for-CTE, so merges, vocabularies, and
  * tokenizations hash-match across engines.
  *
  * Scale: after the one corpus-sized word-count aggregation, the working
  * state is the VOCABULARY position table (Σ|word| rows over distinct
  * words) — corpus text never moves again, which is why BPE training at
  * 100 TB is feasible at all. Each round is two window passes + one agg
  * over that state, hash-partitioned by word; the argmax is a 1-row
  * collect per round (the k-row contract, as in KMeans). State is
  * localCheckpoint'd AND stats-rebound per round (Fixpoint's lineage-cut
  * discipline plus Fixpoint.rebindStats — the checkpoint alone snapshots
  * the old plan's size estimate, which compounds multiplicatively across
  * the per-round self-joins and overflows Catalyst's BigInteger size
  * product near 60 rounds).
  */
object Bpe {

  /** Default merge-round count shared by engine queries and oracle
    * unrolls (they must agree — the oracle replays exactly this many). */
  val DefaultMerges = 10

  /** Longest word admitted to training; bounds the position explode in
    * both engines (the oracle's range() cross join uses the same cap). */
  val MaxWordLen = 24

  /** Corpus word-frequency table gated to clean lowercase words:
    * (word, freq). The one corpus-sized pass. */
  def wordFreqs(docs: DataFrame, maxWordLen: Int = MaxWordLen): DataFrame =
    docs.select(explode(expr(wordsSpark("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** One greedy left-to-right rewrite round over the position table (r16
    * optimization, guide §2.4): positions are DENSE per word (0..len−1),
    * so the matched-run structure needs no (word, grp) regroup, no `kept`
    * materialization, and no join-back — the last NON-matched position
    * before p locates p's run start, offset parity decides keep, and
    * `lag(kept)` marks the consumed follower. The former per-round plan
    * (matches window over (word, grp) = extra exchange; kept eager
    * localCheckpoint = extra job; rewrite left-join + consumed anti-join
    * = two more exchanges/broadcast builds) collapses to window column
    * math under the ONE (word, pos) partitioning every round already
    * pays. Same rewrite semantics, row for row: the per-round state is
    * replayed CTE-for-CTE by every BPE oracle, so the unchanged hashes
    * are the equivalence proof (plus PipelineSpec / BpeSpec).
    *
    * `flagged` must carry word, pos, tok, and `mb` — the merge's rhs on
    * positions where (tok, next-tok) matches an accepted merge, NULL
    * elsewhere (a literal test for the sequential trainer, a broadcast
    * left-join against the batch for the batched faces; batch symbol-
    * disjointness means at most one merge matches a position). `out`
    * fixes the output column order. */
  private def rewriteRound(flagged: DataFrame, out: Seq[String]): DataFrame = {
    val byWord = Window.partitionBy("word").orderBy("pos")
    val runFrame = byWord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("lnm", max(when(col("mb").isNull, col("pos"))).over(runFrame))
      .withColumn("kept", col("mb").isNotNull &&
        (col("pos") - coalesce(col("lnm"), lit(-1L)) - 1L) % 2 === 0)
      .withColumn("gone", coalesce(lag("kept", 1).over(byWord), lit(false)))
      .filter(!col("gone"))
      .withColumn("tok",
        when(col("kept"), concat(col("tok"), col("mb"))).otherwise(col("tok")))
      .withColumn("pos", row_number().over(byWord).cast("long") - 1L)
      .select(out.map(col): _*)
  }

  /** One row per character position of each word, carrying `words`'
    * columns: (…, pos, tok) — the seed state of every trainer and encoder,
    * as an eager leaf. */
  private def charPositions(words: DataFrame, maxWordLen: Int): DataFrame =
    Fixpoint.materializedLeaf(
      words.join(words.sparkSession.range(maxWordLen).toDF("pos"), expr("pos < length(word)"))
        .select(words.columns.map(col) :+ col("pos") :+
          expr("substring(word, CAST(pos AS INT) + 1, 1)").as("tok"): _*))

  /** (merges, finalState): merges as (rank, lhs, rhs, pair_count) rows in
    * merge order; finalState as the trained tokenization (word, freq,
    * pos, tok). Runs on `Fixpoint.unfold` in the caller's session. */
  def train(docs: DataFrame, merges: Int = DefaultMerges,
      maxWordLen: Int = MaxWordLen): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seed = charPositions(wordFreqs(docs, maxWordLen), maxWordLen)
    // the seed leaf is partitioned by word, which the first window reuses;
    // every later state is re-bound, and so is the returned one
    def bound(state: DataFrame) = if (state eq seed) state else Fixpoint.rebindStats(state)
    val byWord = Window.partitionBy("word").orderBy("pos")
    val learned = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    val last = Fixpoint.unfold(seed, merges) { (state, _) =>
      // the read: a 1-row argmax collect per round (k-row contract); it
      // materializes the state the previous round rewrote lazily (r16
      // fusion), and the caller's first action materializes the last one
      val withNext = bound(state).withColumn("ntok", lead("tok", 1).over(byWord))
      (withNext, withNext.filter(col("ntok").isNotNull)
        .groupBy(col("tok").as("a"), col("ntok").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .take(1).headOption)
    } { case (_, (withNext, topOpt), i) =>
      // None: no adjacent pairs left (every word fully merged to one
      // token): stop learning — the oracle unroll's `win$i ... LIMIT 1`
      // CTEs go empty for the remaining rounds and its state CTEs pass
      // through unchanged, so early exit here matches the oracle exactly
      topOpt.map { top =>
        val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
        learned += ((i + 1L, a, b, c))
        // greedy left-to-right keep set via window math (rewriteRound):
        // within a run of consecutive matches, keep even offsets
        rewriteRound(withNext.withColumn("mb",
          when(col("tok") === lit(a) && col("ntok") === lit(b), lit(b))),
          Seq("word", "freq", "pos", "tok"))
      }
    }
    (learned.toSeq.toDF("rank", "lhs", "rhs", "pair_count"), bound(last))
  }

  /** Default rounds × batch for [[trainBatched]], shared with the oracle
    * unroll (BatchRounds · MergeBatch candidate merges per training). */
  val BatchRounds = 4
  val MergeBatch = 8

  /** Batched BPE merge training — the standard parallel-BPE approximation
    * (top-B non-conflicting merges per round), retiring the one genuine
    * driver-side scale bottleneck left in [[train]]: a real 32k-merge
    * vocabulary costs [[train]] 32k sequential 1-row argmax jobs (hours of
    * pure driver latency at ANY data scale), where this pays
    * ceil(32k / B) rounds — one B-row collect each, a ~B-fold collapse of
    * driver round-trips with the identical per-round relational work.
    *
    * Batch selection rule (deterministic, SQL-replayable): rank this
    * round's pair counts by (count DESC, lhs ASC, rhs ASC), take the top
    * B, and greedily accept candidate i iff no previously ACCEPTED
    * candidate shares a symbol with it (lhs or rhs) — the standard
    * parallel-BPE batching rule. Disjoint symbols make
    * simultaneous application ≡ any sequential order of the batch:
    * a position matches at most one accepted merge (a shared adjacent
    * token would be a shared symbol), runs of consecutive matches can
    * only come from one a==a merge (the even-offset greedy rule applies
    * unchanged per run), and no kept position is another merge's consumed
    * position. Counts for merges 2..B within a round are the round-start
    * counts (the documented approximation vs [[train]]'s recount-every-
    * merge — batched and sequential vocabularies differ in general, which
    * is why this is a SEPARATE oracle-checked operator, not a swap).
    *
    * Returns (merges, finalState) like [[train]]; merge ranks are global
    * (round-major, in-round rank order). Rounds with no adjacent pairs
    * left stop early, matching the oracle's empty pass-through CTEs. */
  def trainBatched(docs: DataFrame, rounds: Int = BatchRounds,
      batch: Int = MergeBatch, maxWordLen: Int = MaxWordLen): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (groups, state) = trainBatchedGrouped(docs, rounds, batch, maxWordLen)
    var rank = 0L
    val learned = groups.flatten.map { case (a, b, c) =>
      rank += 1; (rank, a, b, c) }
    (learned.toDF("rank", "lhs", "rhs", "pair_count"), state)
  }

  /** [[trainBatched]] with the per-ROUND structure preserved: returns the
    * accepted merges grouped by training round (each group pairwise
    * symbol-disjoint by the greedy rule) plus the final state — the shape
    * [[encodeBatched]] needs to replay deployment tokenization round-
    * simultaneously, exactly as training rewrote its own state. */
  def trainBatchedGrouped(docs: DataFrame, rounds: Int = BatchRounds,
      batch: Int = MergeBatch,
      maxWordLen: Int = MaxWordLen): (Seq[Seq[(String, String, Long)]], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val seed = charPositions(wordFreqs(docs, maxWordLen), maxWordLen)
    // the seed leaf's word partitioning and the re-binds, as in train
    def bound(state: DataFrame) = if (state eq seed) state else Fixpoint.rebindStats(state)
    val byWord = Window.partitionBy("word").orderBy("pos")
    val groups = scala.collection.mutable.ListBuffer.empty[Seq[(String, String, Long)]]
    val last = Fixpoint.unfold(seed, rounds) { (state, _) =>
      // the read: ONE B-row collect per round (k-row contract) instead of
      // B 1-row argmax collects
      val withNext = bound(state).withColumn("ntok", lead("tok", 1).over(byWord))
      (withNext, withNext.filter(col("ntok").isNotNull)
        .groupBy(col("tok").as("a"), col("ntok").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(batch).collect()
        .map(t => (t.getString(0), t.getString(1), t.getLong(2))))
    } { case (_, (withNext, top), _) =>
      // greedy accept-vs-ACCEPTED (the standard parallel-BPE batching
      // rule, r13): candidate i joins the batch iff it shares no symbol
      // with a previously ACCEPTED candidate. The earlier stricter rule
      // (reject on any conflict with a higher-RANKED candidate, even a
      // rejected one — one NOT EXISTS in SQL) measured only ~2-3 accepted
      // merges/round at vocabulary depth (BASELINE r13): hot
      // symbols dominate the top ranks, so most of the batch was rejected
      // for touching candidates that were themselves rejected, and the
      // B-fold driver collapse evaporated. Accept-vs-accepted keeps the
      // accepted set pairwise symbol-disjoint (each candidate is checked
      // against every accepted one), so simultaneous application is still
      // ≡ any sequential order; the oracle replays the same greedy fold
      // over the rank-ordered top-B list (a DuckDB list_reduce with LIST
      // state — the proven multi-var-fold encoding).
      val used = scala.collection.mutable.Set.empty[String]
      val acc = top.filter { case (a, b, _) =>
        if (used(a) || used(b)) false else { used += a; used += b; true }
      }
      Option.when(acc.nonEmpty) {
        groups += acc.toSeq
        val mdf = broadcast(acc.toSeq.toDF("ma", "mb", "mc").select("ma", "mb"))
        // disjoint symbols => each position matches at most one merge;
        // the matched rhs travels with the row for the rewrite
        val flagged = withNext
          .join(mdf, col("tok") === col("ma") && col("ntok") === col("mb"), "left")
        rewriteRound(flagged, Seq("word", "freq", "pos", "tok"))
      }
    }
    (groups.toSeq, bound(last))
  }

  /** Trained subword vocabulary: (tok, n_positions, n_occurrences) where
    * n_positions counts the token's POSITIONS across the distinct-word
    * table (a token appearing twice in one word counts twice — 'an' in
    * 'banana') and n_occurrences is the frequency-weighted total. */
  def subwordVocab(finalState: DataFrame): DataFrame =
    finalState.groupBy("tok")
      .agg(count(lit(1)).as("n_positions"), sum("freq").as("n_occurrences"))

  /** Tokenize with a BATCH-trained merge table, round-simultaneously:
    * each training round's accepted set (pairwise symbol-disjoint by the
    * greedy rule) is applied in ONE pass, exactly the rewrite
    * [[trainBatchedGrouped]] used on its own state — so deployment
    * tokenization reproduces training tokenization by construction, and
    * the encode chain costs `rounds` passes instead of one per merge
    * (the r13 fix for the 19-sequential-round deployment faces; at a 32k
    * vocabulary this is the difference between ~500 and ~32k passes).
    * Note round-simultaneous ≢ merge-sequential in one edge case — a
    * round accepting (a,b) and (ab,c) together applies (ab,c) only to
    * PRE-existing "ab" tokens — which is precisely why it matches the
    * trainer (also round-simultaneous), and why the oracle replays the
    * identical per-round rewrite.
    *
    * The chain is lazy: the consumer's one job materializes every group's
    * checkpoint, so no generation can be released before the consumer has
    * run, and all of them stay cached with the result (as in [[encode]]). */
  def encodeBatched(words: DataFrame, groups: Seq[Seq[(String, String)]],
      maxWordLen: Int = MaxWordLen): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    var state = charPositions(words.select(col("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= maxWordLen)
      .distinct(), maxWordLen)
    val byWord = Window.partitionBy("word").orderBy("pos")
    for (group <- groups; if group.nonEmpty) {
      val mdf = broadcast(group.toDF("ma", "mb"))
      val withNext = state.withColumn("ntok", lead("tok", 1).over(byWord))
      val flagged = withNext
        .join(mdf, col("tok") === col("ma") && col("ntok") === col("mb"), "left")
      // lazy chain (r17, the r16 deferred item): under the linear window
      // rewrite the state is referenced ONCE per group and every bench
      // face consumes the final state once, so the whole encode chain
      // materializes in the consumer's one job — the per-group eager
      // checkpoint jobs (~BatchRounds per query) were pure barriers.
      // rebindStats per group caps the broadcast-join size-estimate
      // compounding exactly as in the batched trainer.
      state = Fixpoint.rebindStats(
        Fixpoint.lazyLeaf(rewriteRound(flagged, Seq("word", "pos", "tok"))))
    }
    state
  }

  /** Tokenize with a learned merge table: replays the merge list in rank
    * order over the given words — the ENCODE path, shaped exactly like
    * one training round minus the argmax (the merge table is the input,
    * typically broadcast; rows here are (rank, lhs, rhs) collected at
    * k-row scale). Like [[encodeBatched]], the chain is lazy and its
    * consumer materializes it in one job, so every merge's checkpoint stays
    * cached with the result. */
  def encode(words: DataFrame, merges: Seq[(String, String)],
      maxWordLen: Int = MaxWordLen): DataFrame = {
    var state = charPositions(words.select(col("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= maxWordLen)
      .distinct(), maxWordLen)
    val byWord = Window.partitionBy("word").orderBy("pos")
    for ((a, b) <- merges) {
      val withNext = state.withColumn("ntok", lead("tok", 1).over(byWord))
      val flagged = withNext.withColumn("mb",
        when(col("tok") === lit(a) && col("ntok") === lit(b), lit(b)))
      // lazy chain, single-reference per round (see encodeBatched); the
      // literal-test rounds have no join, so no rebind is needed — the
      // window/filter chain carries no multiplicative size estimate
      state = Fixpoint.lazyLeaf(rewriteRound(flagged, Seq("word", "pos", "tok")))
    }
    state
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark set, so eval data can be scrubbed
  * from the training corpus before training (the GPT-3-style "13-gram
  * overlap" check, here over the 3-word shingles the dedup stack already
  * hashes).
  *
  * Scale design: the eval side of the join is a benchmark suite — thousands
  * of documents against a 100 TB corpus — so its distinct gram-hash set is
  * broadcast and the corpus side never shuffles: one scan, a broadcast hash
  * probe per gram, and a partial-aggregated count per contaminated doc.
  * Gram hashes are TextHash integer arithmetic (shared with the DuckDB
  * oracle), not engine-native hashes. If the eval set ever outgrows a
  * broadcast, drop the hint and the same plan shuffle-joins on the gram
  * hash.
  */
object Decontam {

  /** (doc_id, n_shared) for every training document sharing at least one
    * distinct 3-gram hash with `evalDocs`. `n_shared` counts DISTINCT
    * shared grams (both gram relations are distinct per doc). */
  def overlapCounts(trainDocs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val trainGrams = Dedup.shingleHashes(trainDocs)
      .select(col("doc_id"), explode(col("hs")).as("g"))
    val evalGrams = Dedup.shingleHashes(evalDocs)
      .select(explode(col("hs")).as("g")).distinct()
    trainGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** The decontaminated corpus: training docs with zero eval-gram overlap.
    * The anti-join ships only contaminated ids — payloads never shuffle. */
  def decontaminate(trainDocs: DataFrame, evalDocs: DataFrame): DataFrame =
    trainDocs.join(overlapCounts(trainDocs, evalDocs).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Per-document contamination SCORE — the soft-decision face of
    * [[decontaminate]]: for EVERY training doc, its distinct-gram count,
    * how many of those grams appear in the benchmark set, and the overlap
    * fraction. The binary scrub hard-codes "any overlap ⇒ drop"; real
    * suites threshold differently (the GPT-3 13-gram rule vs fractional
    * cutoffs), so the score relation is the reusable artifact and the
    * drop policy becomes one downstream filter. Same scale shape as
    * [[overlapCounts]]: eval grams broadcast, corpus payloads never
    * shuffle; clean docs ride through with zeros. */
  def overlapScores(trainDocs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val trainG = Dedup.shingleHashes(trainDocs)
    val evalGrams = Dedup.shingleHashes(evalDocs)
      .select(explode(col("hs")).as("g")).distinct()
    val shared = trainG.select(col("doc_id"), explode(col("hs")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    trainG.select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(round(coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_grams"), 6))
          .as("overlap_frac"))
  }

  /** Bloom-pruned decontamination for eval sets PAST the broadcast
    * threshold (the [[graft.ops.BloomPrune]] pattern applied at gram
    * grain). A 100M-distinct-gram benchmark suite is ~800 MB of raw longs —
    * too big to broadcast-join comfortably — but its 1%-fpp bloom is ~8x
    * smaller and FIXED-size, shipped once per executor inside the codegen'd
    * probe expression. Exactness-preserving in both directions: blooms have
    * no false negatives (no contaminated doc escapes), and the surviving
    * ~1% of train grams are confirmed against the true gram relation with
    * an exact shuffle join (false positives die there), so the output is
    * row-identical to [[decontaminate]] — ScaleOpsSpec asserts equality.
    * Shuffle volume: fpp·|train grams| + true overlaps, instead of every
    * train gram. */
  def decontaminateBloom(trainDocs: DataFrame, evalDocs: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    // bloom build + confirm join reuse it
    val evalGrams = Fixpoint.materializedLeaf(Dedup.shingleHashes(evalDocs)
      .select(explode(col("hs")).as("g")).distinct())
    val nGrams = evalGrams.count()
    val contaminated =
      if (nGrams == 0L) evalGrams.select(col("g").as("doc_id")) // empty ids
      else {
        val bloom = evalGrams.stat.bloomFilter("g", math.max(nGrams, 64L), fpp)
        Dedup.shingleHashes(trainDocs)
          .select(col("doc_id"), explode(col("hs")).as("g"))
          .filter(graft.functions.GraftFunctions.bloomMightContain(col("g"), bloom))
          .join(evalGrams, Seq("g")) // exact confirm — deliberately NOT broadcast
          .select("doc_id").distinct()
      }
    trainDocs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The benchmark's distinct gram-hash set, collected to the driver for
    * the streaming filter (benchmark suites are thousands of docs — the
    * collect is small by the same argument that lets batch decontamination
    * broadcast this set). */
  def evalGramSet(evalDocs: DataFrame): Array[Long] =
    Dedup.shingleHashes(evalDocs).select(explode(col("hs")).as("g"))
      .distinct().collect().map(_.getLong(0))

  /** Stateless streaming decontamination: drop any incoming document whose
    * gram set overlaps the benchmark grams. One codegen'd per-row
    * shingle-hash + arrays_overlap against the literal gram array — no
    * streaming state, no watermark interaction, ingest-rate scaling. Works
    * identically on batch frames (used by the streaming≡batch spec). */
  def decontaminateStreaming(docs: DataFrame, evalGrams: Array[Long]): DataFrame =
    docs
      .withColumn("__hs", graft.functions.GraftFunctions.shingleHashes(col("text")))
      .filter(!arrays_overlap(col("__hs"), typedlit(evalGrams.toSeq)))
      .drop("__hs")

  /** Large-gram-set variant of decontaminateStreaming. The literal-array
    * form embeds every gram in the plan, so at real benchmark-suite scale
    * (millions of grams) it blows plan/codegen size and pays a linear scan
    * per row. Here the sorted gram array ships once as a broadcast
    * variable — the plan stays O(1) — and each document probes it by
    * binary search (primitive longs, no boxing): O(|doc grams| · log n)
    * per row. Still stateless (no streaming state, no watermark), so it
    * drops into the same append-mode pipelines; identical semantics to
    * the literal form (asserted in StreamingSpec). The one UDF in the
    * decontamination stack — a codegen'd literal can't hold a broadcast,
    * and a stream-static anti-join would need a doc-level regroup
    * (stateful aggregation) to undo the gram explode. */
  def decontaminateStreamingLarge(docs: DataFrame, evalGrams: Array[Long]): DataFrame = {
    val sorted = evalGrams.clone()
    java.util.Arrays.sort(sorted)
    val bc = docs.sparkSession.sparkContext.broadcast(sorted)
    val overlaps = udf { hs: Seq[Long] =>
      val g = bc.value
      hs.exists(h => java.util.Arrays.binarySearch(g, h) >= 0)
    }
    docs
      .withColumn("__hs", graft.functions.GraftFunctions.shingleHashes(col("text")))
      .filter(!overlaps(col("__hs")))
      .drop("__hs")
  }
}

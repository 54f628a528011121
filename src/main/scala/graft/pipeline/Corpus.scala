package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextHash._
import graft.functions.GraftFunctions
import graft.iterate.Fixpoint

/** Corpus-level statistics and curation operators for training-data
  * pipelines: vocabulary building, TF-IDF term ranking, deterministic
  * train/val/test splitting, and stratified sampling.
  *
  * Scale design: vocabulary and TF-IDF shuffle (id, word) pairs with full
  * map-side partial aggregation — the word-explode never re-shuffles
  * document payloads. Splits and samples are pure per-row hash arithmetic
  * (the codegen'd PolyHashExpr kernel), so they are reproducible across
  * engines, cluster sizes, and runs — the property a training pipeline
  * needs so that train/test membership never silently shifts.
  *
  * Float determinism: TF-IDF scores are tf * N / df — products and
  * quotients of exact small integers in IEEE double, bit-identical across
  * engines (no logarithm, whose libm rounding may differ).
  */
object Corpus {

  /** Top-`topN` corpus vocabulary: (word, n, df) by total occurrences,
    * ties broken by word. df = number of distinct documents containing
    * the word, computed via the distinct (doc, word) relation (a partial-
    * aggregated shuffle, not a countDistinct over raw occurrences). */
  def vocabulary(docs: DataFrame, topN: Int): DataFrame = {
    val words = docs.select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    tf.groupBy("word")
      .agg(sum("tf").as("n"), count(lit(1)).as("df"))
      .orderBy(desc("n"), asc("word"))
      .limit(topN)
  }

  /** Top-`topPerDoc` TF-IDF terms per document:
    * (doc_id, rn, word, tf, df, score) with score = tf * nDocs / df. */
  def tfidf(docs: DataFrame, topPerDoc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val words = docs.select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // window top-k, NOT plans.TopKPerKey: measured (sf0.1) the heap
    // operator is ~2x slower here — per-doc vocabularies are tiny, so the
    // window's per-group sort is cheap while the heap path pays an extra
    // exchange and a non-codegen pass. The heap operator's regime is huge
    // or skewed groups (see q_topk_per_key); small-group top-k belongs to
    // the window.
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    tf.join(df, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * col("n_docs") / col("df"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topPerDoc)
      .select("doc_id", "rn", "word", "tf", "df", "score")
  }

  /** Top-`topN` word n-grams across the corpus with occurrence counts —
    * the n-gram LM statistic. The gram strings are built per row inside
    * the explode (slice + concat_ws over the words array), so the shuffle
    * carries (gram, partial count) with full map-side aggregation, never
    * document payloads. */
  def ngramCounts(docs: DataFrame, n: Int, topN: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    docs.select(expr(wordsSpark("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', slice(ws, i, $n)))"))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("gram"))
      .limit(topN)
  }

  /** Top-`topN` bigram collocations ranked by pointwise mutual
    * information — the phrase-mining statistic ("new york" scores far
    * above what its unigram frequencies predict). Log-free per the corpus
    * scoring policy (tfidf/bm25/commonness): the score is the PMI ratio
    * p(w1 w2)·T / (c(w1)·c(w2)) itself, not its log — rankings are
    * identical (log is monotone) and, evaluated as
    * `(c12/c1) * (T/c2)`, it is two IEEE divisions and one multiply over
    * exact int64 counts. That factored form is deliberate: every operand
    * stays < 2^53 at any corpus size (c12·T would overflow int64 near
    * ~10^13 tokens — exactly the 100 TB regime), so the expression is
    * bit-identical across engines AND scale-safe with no decimal widening.
    *
    * Shuffle shape: the corpus is scanned twice (unigram and bigram
    * tokenize passes — re-tokenizing is cheaper than materializing a
    * corpus-sized token stream), but both shuffles carry only
    * (token, partial count) with full map-side aggregation, i.e. they are
    * vocab-sized, not corpus-sized. The unigram relation joins the
    * minCount-filtered bigram relation on plain equi-joins — vocab×vocab,
    * left to AQE, since a 100 TB corpus vocabulary is too large to
    * assume broadcast — and the token total T rides a 1-row broadcast.
    * Bigram keys reuse [[ngramCounts]]'s gram construction; tokens cannot
    * contain ' ' (they are split on it), so the gram → (w1, w2) split is
    * an exact round-trip. */
  def pmiCollocations(docs: DataFrame, minCount: Long, topN: Int): DataFrame = {
    val toks = docs.select(expr(wordsSpark("text")).as("ws"))
    // vocab-sized; consumed by T and both joins
    val uni = Fixpoint.materializedLeaf(toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val t = uni.agg(sum("c").as("t"))
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2)))"))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .select(expr("split_part(gram, ' ', 1)").as("w1"),
        expr("split_part(gram, ' ', 2)").as("w2"), col("c12"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        ((col("c12").cast("double") / col("c1")) *
          (col("t").cast("double") / col("c2"))).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(topN)
  }

  // BM25 constants (k1 saturation, b length normalization)
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Top-`topPerDoc` BM25 terms per document. Uses the RATIONAL idf
    * (N - df + 0.5)/(df + 0.5) — the inside of the standard log-idf —
    * instead of the logarithm itself: per-document term rankings are
    * preserved (log is monotone) and every factor stays a product/quotient
    * of exact small integers, so both engines agree bit-for-bit after the
    * 6-dp round (libm log rounding may differ per engine; Corpus.tfidf has
    * the same policy). Same shuffle shape as tfidf: (doc, word) pairs with
    * map-side partial aggregation; N and avgdl are 1-row broadcasts. */
  def bm25(docs: DataFrame, topPerDoc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val words = docs.select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
    // tf is consumed three ways (df, dl, the scored join) — materialize the
    // one tokenization+shuffle instead of re-deriving it from the scan
    val tf = Fixpoint.materializedLeaf(words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    // document length = Σ tf — no second tokenization pass
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val avgdl = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    tf.join(df, "word").join(dl, "doc_id")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdl))
      .withColumn("idf", (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("score", round(
        col("idf") * (col("tf") * lit(Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))),
        6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topPerDoc)
      .select("doc_id", "rn", "word", "tf", "df", "score")
  }

  /** Deterministic train/val/test assignment from the content hash:
    * polyHash(text) % 10 -> 0-7 train, 8 val, 9 test. Membership depends
    * only on the document text, so re-runs, engine swaps, and corpus
    * growth never move an existing document across splits. */
  def hashSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        (GraftFunctions.polyHash(col("text")) % 10).as("slot"),
        length(col("text")).cast("long").as("len"))
      .withColumn("split",
        when(col("slot") < 8, "train").when(col("slot") === 8, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("n_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))

  /** Cluster-aware leak-free train/val/test split: membership is decided
    * by the content hash of each document's NEAR-DUP CLUSTER KEEPER, not
    * its own — a whole duplicate family lands in one split, so no
    * near-duplicate pair straddles train/test (the contamination path a
    * per-document [[hashSplit]] leaves open: a paraphrased copy of a
    * training document scoring as held-out test data). Singletons hash
    * their own text (keeper = self), so on a duplicate-free corpus this
    * degrades to exactly [[hashSplit]]'s assignment.
    *
    * Scale design: `pairs` -> CC is the dedup clustering already priced
    * by q_dedup_clusters; the split itself adds one (doc_id, slot) hash
    * projection and two id-keyed joins — document payloads never move
    * for the assignment. */
  def leakFreeSplit(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = Dedup.dedupClusters(pairs)
    val withKeeper = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("keeper", coalesce(col("keeper"), col("doc_id")))
    val keeperSlot = docs.select(col("doc_id").as("keeper"),
      (GraftFunctions.polyHash(col("text")) % 10).as("slot"))
    withKeeper.join(keeperSlot, "keeper")
      .withColumn("split",
        when(col("slot") < 8, "train").when(col("slot") === 8, "val").otherwise("test"))
      .select("doc_id", "keeper", "split")
  }

  /** Single-scan curation gate: quality metrics AND language scores from
    * one words-array evaluation per document (quality() + langId() each
    * re-tokenize; at 100 TB the tokenization pass dominates, so the fused
    * projection does it once). Returns (doc_id, lang_pred, n_words) for
    * documents passing the thresholds; near-dup removal joins afterward. */
  def qualityLangGate(docs: DataFrame, minWords: Int, minUniqRatio: Double): DataFrame = {
    val scored = TextAnalysis.Stopwords.foldLeft(
      docs.select(col("doc_id"), expr(wordsSpark("text")).as("ws"))) {
      case (df, (lang, _)) =>
        df.withColumn(s"s_$lang", expr(TextAnalysis.langScoreSpark("ws", lang)).cast("long"))
    }
    scored
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("ws"))).cast("double") / size(col("ws")))
      .withColumn("lang_pred", expr(TextAnalysis.argmaxLangSql))
      .filter(col("n_words") >= minWords && col("uniq_ratio") >= minUniqRatio)
      .select("doc_id", "lang_pred", "n_words")
  }

  /** Temperature-scaled source mixture (α = 0.5): sampling weight per
    * source ∝ sqrt(n_docs), the standard "up-sample the tail, damp the
    * head" mix for multi-source training corpora. Determinism: sqrt is
    * correctly rounded in IEEE 754 (identical in every engine, unlike
    * pow/log), and the normalizer is a SEQUENTIAL fold over the per-source
    * weights in source order — a plain sum(double) would be
    * partition-order dependent. The fold state is one row of ~20 sources,
    * not data-sized. Output: (source, n_docs, weight, target_n) where
    * target_n = floor(weight * total_docs). */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    // ~sources rows; materialized so the normalizer agg and the output
    // projection don't each re-run the corpus scan+groupBy
    val counts = Fixpoint.materializedLeaf(docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs").cast("double"))))
    val z = counts
      .agg(sort_array(collect_list(struct(col("source"), col("w")))).as("arr"),
        sum("n_docs").as("total"))
      .select(expr("aggregate(arr, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.w)").as("z"),
        col("total"))
    counts.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        round(col("w") / col("z"), 6).as("weight"),
        floor(round(col("w") / col("z"), 6) * col("total")).cast("long").as("target_n"))
  }

  /** Execute a source mixture: keep `target_n(source)` documents per
    * source (mixtureWeights' plan), picked deterministically by content
    * hash with doc_id tie-break — the reproducible sampling pass that
    * turns mixture weights into an actual training corpus. Same per-
    * stratum top-k shape as stratifiedSample: one window per source,
    * hash-partitioned, no global sort. */
  def mixtureSample(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val targets = mixtureWeights(docs).select("source", "target_n")
    val w = Window.partitionBy("source").orderBy(asc("h"), asc("doc_id"))
    docs.select(col("source"), col("doc_id"),
        GraftFunctions.polyHash(col("text")).as("h"))
      .join(broadcast(targets), "source")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= col("target_n"))
      .select("source", "rn", "doc_id", "h")
  }

  /** Budget-constrained mixture realization: turn the sqrt-temperature
    * mixture weights into an actual document selection under a TOTAL
    * token budget — the allocation pass a training run does when the
    * budget is tokens, not documents. quota(source) =
    * floor(weight · budget) tokens; each source contributes its
    * content-hash-ordered document prefix while the running BPE-ish token
    * count ([[TextAnalysis.tokenCounts]]'s ceil(len/4)-per-word estimate)
    * stays within quota — the first overflowing document is excluded
    * (quotas are hard caps, not targets).
    *
    * Determinism: token counts and running sums are exact int64 (window
    * running sum over a total (hash, doc_id) order); the only float step
    * is floor(weight · budget), identical IEEE arithmetic in both
    * engines. Scale: one window per source, hash-partitioned — no global
    * sort, no driver state; the cut is a per-row comparison against the
    * broadcast quota row. */
  def tokenBudgetMixture(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = mixtureWeights(docs)
      .select(col("source"),
        floor(col("weight") * budget).cast("long").as("quota_tokens"))
    val toks = docs.select(col("source"), col("doc_id"),
      GraftFunctions.polyHash(col("text")).as("h"),
      expr(s"aggregate(${wordsSpark("text")}, CAST(0 AS BIGINT), " +
        "(acc, w) -> acc + (length(w) + 3) div 4)").as("n_tokens"))
    val w = Window.partitionBy("source").orderBy(asc("h"), asc("doc_id"))
    toks.join(broadcast(quotas), "source")
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= col("quota_tokens"))
      .select("source", "doc_id", "n_tokens", "cum_tokens")
  }

  /** Inverted index over the `topN` highest-document-frequency terms:
    * (word, df, postings) with the posting list as a sorted comma-joined
    * doc-id string. The shuffle carries distinct (doc, word) pairs with
    * map-side partial aggregation; posting lists materialize only for the
    * topN terms (the broadcast semi-join prunes before collect_list). At
    * 100 TB, per-term posting lists are the one legitimately large
    * aggregation value here — production indexes shard them by doc range;
    * the operator keeps that extension obvious (group by (word, doc_id
    * bucket) first). */
  def invertedIndex(docs: DataFrame, topN: Int): DataFrame =
    // consumed by the df ranking AND the postings join — one
    // tokenize+distinct shuffle, pinned before both race it
    Fixpoint.pinned(docs
        .select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
        .distinct()) { (pairs, _) =>
      val top = pairs.groupBy("word").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("word")).limit(topN)
      pairs.join(broadcast(top), "word")
        .groupBy("word", "df")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
    }

  /** (word, df, postings) over the FULL vocabulary — the stored relation
    * an incremental index pipeline keeps on disk. [[invertedIndex]]'s
    * top-N cut is a VIEW over this (the ranking needs only df); the index
    * must store every word's postings because a stored top-N cannot admit
    * a word that newly climbs into the top N after a batch. */
  def fullPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
      .distinct()
      .groupBy("word")
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))

  /** Merge an append-only document batch into a stored [[fullPostings]]
    * index and emit the top-N view — the inverted-index twin of the
    * stored-index dedup ingest. Only the batch is tokenized; the merge is
    * keyed on the word (vocabulary-sized relation, not corpus-sized):
    * df adds, posting lists splice numerically sorted, and the top-N
    * ranking re-runs over merged dfs — so a word the batch pushes into
    * the top N enters with its FULL postings, which is exactly why the
    * stored relation is the full vocabulary. Output is identical to
    * `invertedIndex(existing ∪ incoming, topN)` for disjoint doc ids
    * (append-only contract); q_inverted_index_inc hash-checks that
    * equality against the batch oracle. */
  def incrementalInvertedIndex(storedIndex: DataFrame, incoming: DataFrame,
      topN: Int): DataFrame = {
    val merged = storedIndex.select("word", "df", "postings")
      .unionByName(fullPostings(incoming))
      .groupBy("word")
      .agg(sum(col("df")).as("df"),
        // splice: split both sides' sorted lists, numeric re-sort, rejoin
        // (lexicographic would put "10" before "9")
        expr("array_join(transform(array_sort(flatten(collect_list(" +
          "transform(split(postings, ','), x -> CAST(x AS BIGINT))))), " +
          "x -> CAST(x AS STRING)), ',')").as("postings"))
    merged.orderBy(desc("df"), asc("word")).limit(topN)
      .select("word", "df", "postings")
  }

  /** Write a corpus partitioned by `partitionCol` with bounded file sizes:
    * maxRecordsPerFile caps the giant-file stragglers a skewed partition
    * column otherwise produces (one 2 TB `lang=en` file kills downstream
    * parallelism), while the directory layout gives readers partition
    * pruning on the filter column for free. */
  def writeCorpus(df: DataFrame, path: String, partitionCol: String,
      maxRecordsPerFile: Long): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Deterministic stratified sample: `perGroup` documents per value of
    * `groupCol`, ordered by content hash (ties by doc_id) — an unbiased,
    * reproducible per-stratum pick with no driver-side randomness. */
  /** Deterministic systematic PPS (probability-proportional-to-size)
    * sample: lay documents on a weight line in id order, drop `n`
    * equally-spaced probes at the stride midpoints
    * pos_j = floor((2j+1)·W / 2n), and keep the document whose cumulative
    * interval [cum−w, cum) contains each probe. The classic systematic
    * sampler with zero randomness — heavy documents can repeat (that IS
    * PPS), light ones are skipped proportionally, and the whole selection
    * is exact int64 arithmetic, so it replays identically across engines,
    * runs, and cluster widths.
    *
    * Scale: the prefix sum is the textbook two-phase scan — range-
    * partition by id, per-partition subtotals to the driver (P rows, the
    * k-row collect contract), broadcast the partition offsets back, and
    * window only WITHIN partitions. No global single-partition window
    * ever materializes, so the cumsum holds at any corpus size; the probe
    * join broadcasts n rows against the cumsum relation (interval
    * predicate, map-side). */
  def systematicSample(docs: DataFrame, n: Int, idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, "sample size must be positive")
    val spark = docs.sparkSession
    val w = docs.select(col(idCol).as("doc_id"), col(weightCol).cast("long").as("wt"))
    val parts = spark.sparkContext.defaultParallelism.max(1).min(32)
    // pin partition ids before the double consumption (subtotals + window)
    val ranged = Fixpoint.materializedLeaf(w.repartitionByRange(parts, col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    val subtotals = ranged.groupBy("pid").agg(sum("wt").as("s"))
      .orderBy("pid").collect() // ≤ parts rows by contract
    val offsets = subtotals.map(_.getLong(1)).scanLeft(0L)(_ + _).init
    val total = subtotals.map(_.getLong(1)).sum
    require(total > 0, "total weight must be positive")
    import spark.implicits._
    val offDf = subtotals.map(_.getInt(0)).zip(offsets).toSeq.toDF("pid", "off")
    val win = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged.join(broadcast(offDf), "pid")
      .withColumn("cum", sum("wt").over(win) + col("off"))
    val probes = spark.range(n).select(col("id").as("sample_idx"),
      expr(s"((id * 2 + 1) * ${total}L) div ${2L * n}L").as("pos"))
    cum.join(broadcast(probes),
        probes("pos") >= cum("cum") - cum("wt") && probes("pos") < cum("cum"))
      .select(col("sample_idx"), col("doc_id"), col("wt").as("weight"), col("pos"))
  }

  def stratifiedSample(docs: DataFrame, groupCol: String, perGroup: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(asc("h"), asc("doc_id"))
    docs.select(col(groupCol), col("doc_id"),
        GraftFunctions.polyHash(col("text")).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perGroup)
      .select(groupCol, "rn", "doc_id", "h")
  }

  /** Deterministic weighted sample — priority sampling (Duffield, Lund &
    * Thorup, JACM 2007): each doc draws priority q = w / u, where w is
    * its weight (n_chars — the size-proportional choice) and u ∈ (0, 1]
    * a content-hash uniform; the k highest-priority docs per source are
    * the sample. Where [[stratifiedSample]] draws uniformly and
    * `systematicSample` probes the exact weight line globally, priority
    * sampling gives a per-stratum weighted subset whose subset-sum
    * estimator is near-optimal (the paper's result) — the shape for
    * "sample heavy docs more, but keep an unbiased handle on the rest".
    *
    * Determinism (the hashSplit convention — no RNG anywhere): u =
    * (h + 1) / P with h the text poly-hash, so q = w·P / (h + 1); both
    * operands are exact int64 below 2^53 and q is ONE correctly-rounded
    * IEEE division — bit-identical across engines, partitionings and
    * reruns. Ties (impossible unless whole texts collide) break by
    * doc_id.
    *
    * Scale: pure per-row arithmetic (codegen'd PolyHashExpr) + one
    * hash-partitioned per-source window — the row_number ≤ k idiom
    * WindowTopKRewrite lowers to the bounded-heap operator, so no
    * per-source full sort materializes. */
  def prioritySample(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(desc("priority"), asc("doc_id"))
    docs.select(col("source"), col("doc_id"), col("n_chars"),
        GraftFunctions.polyHash(col("text")).as("h"))
      .withColumn("priority",
        (col("n_chars") * lit(P)).cast("double") / (col("h") + lit(1L)).cast("double"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("source", "rn", "doc_id", "n_chars", "priority")
  }
}

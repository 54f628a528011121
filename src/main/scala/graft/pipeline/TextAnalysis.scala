package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextHash._
import graft.functions.GraftFunctions
import graft.iterate.Fixpoint

/** Text-quality operators for training-data curation: language ID, quality
  * scoring, token counting, document fingerprinting. Pure per-row codegen'd
  * expressions — no shuffle, no UDF, trivially scalable.
  */
object TextAnalysis {

  /** tiny per-language stopword lists for the heuristic language scorer;
    * shared verbatim with the DuckDB oracle */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "de", "et", "que"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
  )

  private def hitCondition(words: Seq[String]): String =
    words.map(w => s"w = '$w'").mkString(" OR ")

  /** stopword-hit count for one language over a words-array expr (Spark) */
  def langScoreSpark(ws: String, lang: String): String = {
    val words = Stopwords.toMap.apply(lang)
    s"size(filter($ws, w -> ${hitCondition(words)}))"
  }
  def langScoreDuck(ws: String, lang: String): String = {
    val words = Stopwords.toMap.apply(lang)
    s"len(list_filter($ws, w -> ${hitCondition(words)}))"
  }

  /** first-max argmax over the language scores (score cols s_<lang>) —
    * identical CASE chain on both engines */
  def argmaxLangSql: String = {
    val langs = Stopwords.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      val conds = rest.map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  /** (doc_id, lang_pred, s_en, s_es, s_fr, s_de) */
  def langId(docs: DataFrame): DataFrame = {
    val scored = Stopwords.foldLeft(
      docs.select(col("doc_id"), expr(wordsSpark("text")).as("ws"))) {
      case (df, (lang, _)) =>
        df.withColumn(s"s_$lang", expr(langScoreSpark("ws", lang)).cast("long"))
    }
    val cols = Seq("doc_id", "lang_pred") ++ Stopwords.map(s => s"s_${s._1}")
    scored.withColumn("lang_pred", expr(argmaxLangSql))
      .select(cols.head, cols.tail: _*)
  }

  /** quality metrics: lengths, lexical diversity, stopword ratio. All
    * ratios are int/int double divisions (deterministic). */
  def quality(docs: DataFrame): DataFrame = {
    val allStops = Stopwords.flatMap(_._2)
    docs.select(col("doc_id"), col("text"), expr(wordsSpark("text")).as("ws"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_uniq"),
        (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))).as("uniq_ratio"),
        (expr(s"size(filter(ws, w -> ${hitCondition(allStops)}))").cast("double")
          / size(col("ws"))).as("stop_ratio"),
        (expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))").cast("double")
          / size(col("ws"))).as("avg_word_len"))
  }

  /** token counts: whitespace tokens + a BPE-ish estimate of
    * ceil(len(word)/4) subword units per word */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(wordsSpark("text")).as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_ws_tokens"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + (length(w) + 3) div 4)")
          .as("n_bpe_tokens"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))")
          .as("n_word_chars"))

  /** (doc_id, fp) — rolling polynomial fingerprint of the whole text */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      GraftFunctions.polyHash(trim(col("text"))).as("fp"))

  /** terms scrubbed from training text (stand-in for a PII/toxicity
    * blocklist); shared with the DuckDB oracle */
  val Blocklist: Seq[String] = Seq("customer", "query", "spark")
  val RedactMask = "[REDACTED]"

  /** word-boundary alternation — identical semantics in Java regex (Spark)
    * and RE2 (DuckDB) for literal alternants */
  def blocklistPattern: String = s"\\b(${Blocklist.mkString("|")})\\b"

  /** Blocklist scrubbing: replace each blocklisted term with a mask and
    * count the hits. Pure per-row codegen'd regex + array ops — no
    * shuffle; the curation pass every raw 100 TB crawl goes through before
    * training. (doc_id, redacted, n_hits) */
  def redact(docs: DataFrame): DataFrame = {
    val hitCond = Blocklist.map(w => s"w = '$w'").mkString(" OR ")
    docs.select(col("doc_id"),
      regexp_replace(col("text"), blocklistPattern, RedactMask).as("redacted"),
      expr(s"size(filter(${wordsSpark("text")}, w -> $hitCond))")
        .cast("long").as("n_hits"))
  }

  /** Gopher-style repetition metrics over word bigrams: gram counts,
    * distinct-gram counts, the most frequent gram's share, and the
    * duplicated-gram fraction — the "document is a scraped boilerplate
    * loop" screen applied before training. One codegen'd kernel call per
    * row (BigramStatsExpr — a single tokenize + hash-count pass, no
    * shuffle, no intermediate gram arrays); the HOF formulation it
    * replaced lives in bigramGramsHof/topRunHof for the equivalence specs
    * and mirrors the DuckDB oracle. All ratios are int/int double
    * divisions (deterministic). */
  def repetition(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.GraftFunctions.bigramStats(col("text")).as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_grams"),
        element_at(col("st"), 2).as("n_uniq_grams"),
        element_at(col("st"), 3).as("top_gram_n"))
      .select(col("doc_id"), col("n_grams"), col("n_uniq_grams"), col("top_gram_n"),
        when(col("n_grams") > 0, col("top_gram_n").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("top_gram_frac"),
        when(col("n_grams") > 0,
            (col("n_grams") - col("n_uniq_grams")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_gram_frac"))
  }

  /** HOF twin of the BigramStatsExpr kernel (over a words array `ws`):
    * the gram array, and the mode count as a longest-equal-run fold over
    * the sorted grams. Used by FunctionsSpec/FunctionsFuzzSpec to prove
    * kernel bit-equivalence; structurally mirrors the DuckDB oracle. */
  def bigramGramsHof(ws: String): String =
    s"IF(size($ws) >= 2, transform(sequence(1, size($ws) - 1), " +
      s"i -> concat_ws(' ', element_at($ws, i), element_at($ws, i + 1))), " +
      "CAST(array() AS ARRAY<STRING>))"

  def topRunHof(gs: String): String =
    s"aggregate(array_sort($gs), " +
      "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), " +
      "(acc, g) -> named_struct(" +
      "  'prev', g, " +
      "  'run', IF(acc.prev <=> g, acc.run + 1, 1), " +
      "  'best', greatest(acc.best, IF(acc.prev <=> g, acc.run + 1, 1))), " +
      "acc -> acc.best)"

  /** chunking defaults: 100-char windows, 20-char overlap (step 80) */
  val ChunkSize = 100
  val ChunkStep = 80

  /** Fixed-size overlapping character chunks — the doc → embedding-input
    * splitter. One generator expression per row (explode of substring
    * windows): rows fan out ~len/step with no shuffle, and chunk starts
    * are pure arithmetic so the operator is deterministic and
    * embarrassingly parallel. (doc_id, chunk_idx, chunk, chunk_len) */
  def chunk(docs: DataFrame, size: Int = ChunkSize, step: Int = ChunkStep): DataFrame =
    docs
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, (length(text) - 1) div $step), i -> substring(text, i * $step + 1, $size))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"), length(col("col")).cast("long").as("chunk_len"))

  /** Cross-document chunk duplication stats — the INTER-document verbatim-
    * repetition signal (the line/paragraph-level dedup pass of CCNet/
    * RefinedWeb-style pipelines, at fixed char-window granularity): a doc
    * whose disjoint chunks largely appear verbatim in OTHER documents is
    * boilerplate or a partial copy that whole-document near-dup misses.
    *
    * Unit of counting is the DISTINCT (doc, chunk-hash) pair (a doc
    * repeating its own chunk internally counts once — that is the
    * intra-doc [[repetition]] metric's job); a hash is "shared" when it
    * occurs in >= 2 distinct docs. Scale: the explode is shuffle-free,
    * the only shuffle carries (hash, doc_id) pairs (16 B/chunk) with
    * map-side partial distinct; payload text never moves past the scan.
    * Output (doc_id, n_chunks, n_shared, dup_frac), dup_frac one IEEE
    * division of exact int64 counts. */
  def chunkDupStats(docs: DataFrame, size: Int = ChunkSize): DataFrame = {
    val pairs = chunk(docs, size, size)
      .select(col("doc_id"), graft.functions.GraftFunctions.polyHash(col("chunk")).as("h"))
      .distinct()
    val freq = pairs.groupBy("h").agg(count(lit(1)).as("ndocs"))
    pairs.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("ndocs") >= 2, 1)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_chunks"), 6).as("dup_frac"))
  }

  /** Deterministic hash-projection text featurizer: text → dense
    * `dim`-float vector, the documents→embeddings bridge that lets every
    * vector operator (ANN, near-dup, k-means, SemDeDup) run on raw text
    * with no model in the loop. Feature d is the bag-of-words sum of a
    * per-(word, d) pseudo-random integer coefficient in [-14, 14]
    * (word-hash mixed per dimension — the same integer-coefficient trick
    * as Similarity's hyperplanes): shared vocabulary ⇒ correlated
    * vectors, disjoint vocabulary ⇒ near-orthogonal. Sums are exact
    * int64 (order-free; |v[d]| ≤ 14·words ≪ 2^24) and the final
    * float cast is exact, so the output is bit-reproducible on any
    * partitioning and replayable in SQL by the oracle. One generator-free
    * projection per row — no shuffle, no UDF. */
  def featurize(docs: DataFrame, dim: Int = 16): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.textFeatures(col("text"), dim).as("embedding"))

  /** First-occurrence n-gram novelty — the marginal-new-content signal
    * for ingest-order data selection (what does this document add that
    * the corpus before it didn't already have?): for each doc, the
    * fraction of its DISTINCT k-gram keys whose corpus-wide first carrier
    * (minimum doc_id — the ingest order) is this doc. High-novelty docs
    * expand coverage; near-zero docs are recombinations of already-seen
    * content even when no single partner makes them a near-dup — the
    * selection signal pairwise dedup structurally cannot produce.
    *
    * Scale: the distinct (gram, doc) relation shuffles once for the
    * min-carrier aggregation (map-side partials; 16 B rows) and once for
    * the join back keyed by gram — linear, no pairwise anything, payload
    * text touched exactly once by the codegen'd gram kernel. Output
    * (doc_id, n_grams, n_novel, novelty_frac) for EVERY doc (docs shorter
    * than k words carry zeros). */
  def noveltyScores(docs: DataFrame, k: Int = 4): DataFrame = {
    // min-agg and join-back both consume it
    val grams = Fixpoint.materializedLeaf(Dedup.substringIndex(docs, k).select("doc_id", "h").distinct())
    val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
    noveltyTail(docs, grams, first)
  }

  /** shared per-doc tail of the novelty family: score each doc's distinct
    * grams against the (h, first_doc) carrier relation; docs outside
    * `grams` (shorter than k words) carry zeros */
  private def noveltyTail(docs: DataFrame, grams: DataFrame,
      first: DataFrame): DataFrame = {
    val sc = grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
    docs.select("doc_id").join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(round(col("n_novel").cast("double") / col("n_grams"), 6))
          .as("novelty_frac"))
  }

  /** The novelty family's STORED INDEX: gram key → first carrier
    * (min doc_id) — compact (one row per distinct corpus gram) and
    * mergeable (min-fold with any batch's grams), the relation an ingest
    * pipeline persists between batches. */
  def noveltyIndex(docs: DataFrame, k: Int = 4): DataFrame =
    Dedup.substringIndex(docs, k).select("doc_id", "h").distinct()
      .groupBy("h").agg(min("doc_id").as("first_doc"))

  /** Incremental novelty — the append-only-ingest face of
    * [[noveltyScores]] (the family's q_dedup_incremental_idx pattern):
    * score an incoming batch against the stored [[noveltyIndex]] without
    * ever re-keying existing text. A batch gram's corpus-wide first
    * carrier is min(stored first_doc, batch-internal min) — exact, not
    * approximate, so the result equals the batch run over the union
    * RESTRICTED to the incoming docs (a spec fixture pins the equality;
    * the oracle replays the union with that restriction).
    * Scale: per ingest, gram-keying is batch-sized; the index join ships
    * stored rows only for gram keys the batch actually carries. */
  def incrementalNoveltyScores(index: DataFrame, incoming: DataFrame,
      k: Int = 4): DataFrame = {
    val inc = Fixpoint.materializedLeaf(Dedup.substringIndex(incoming, k).select("doc_id", "h").distinct())
    val bFirst = inc.groupBy("h").agg(min("doc_id").as("b_first"))
    val first = bFirst
      .join(index.withColumnRenamed("first_doc", "i_first"), Seq("h"), "left")
      .select(col("h"),
        least(coalesce(col("i_first"), col("b_first")), col("b_first"))
          .as("first_doc"))
    noveltyTail(incoming, inc, first)
  }

  /** DSIR-style target-affinity importance score (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — hashed
    * n-gram importance weights, here in the catalog's log-free rational
    * form): score every RAW doc by how target-like its k-gram profile is.
    * Per raw doc, over its DISTINCT gram keys:
    *   t_mass = Σ t_df(g)  (distinct-TARGET-carrier count per gram),
    *   r_mass = Σ r_df(g)  (distinct-RAW-carrier count per gram ≥ 1),
    *   affinity = t_mass / r_mass — ONE correctly-rounded IEEE division
    * of exact int64 sums (both ≪ 2^53), bit-identical across engines and
    * partitionings. Grams common in the target but rare in the crawl pull
    * the score up; crawl-boilerplate grams the target never uses pull it
    * down — the "select crawl docs that look like the curated slice"
    * signal, with selection itself one downstream filter/top-k (the
    * [[graft.pipeline.Decontam.overlapScores]] policy split).
    *
    * Scale: linear, no pairwise anything — the raw distinct (doc, gram)
    * relation shuffles once for the r_df aggregation (map-side partials)
    * and once keyed by gram for the join back; the target gram relation
    * is curated-slice-sized and broadcast (the Decontam eval-side
    * precedent). Docs shorter than k words carry zeros. */
  def importanceScores(raw: DataFrame, target: DataFrame, k: Int = 2): DataFrame = {
    // r_df agg and join-back both consume it
    val rg = Fixpoint.materializedLeaf(Dedup.substringIndex(raw, k).select("doc_id", "h").distinct())
    val rdf = rg.groupBy("h").agg(count(lit(1)).as("r_df"))
    importanceTail(raw, rg, rdf, targetDf(target, k))
  }

  /** (h, t_df) over the curated target slice — the static side of the
    * importance family, broadcast at probe time */
  private def targetDf(target: DataFrame, k: Int): DataFrame =
    Dedup.substringIndex(target, k).select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("t_df"))

  /** shared per-doc tail: mass sums over the scored docs' distinct grams
    * against the supplied (h, r_df) relation; gram-less docs carry zeros */
  private def importanceTail(docs: DataFrame, grams: DataFrame,
      rdf: DataFrame, tdf: DataFrame): DataFrame = {
    val sc = grams.join(rdf, "h")
      .join(broadcast(tdf), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("t_df"), lit(0L))).as("t_mass"),
        sum(col("r_df")).as("r_mass"))
    docs.select("doc_id").join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("t_mass"), lit(0L)).as("t_mass"),
        coalesce(col("r_mass"), lit(0L)).as("r_mass"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(round(col("t_mass").cast("double") / col("r_mass"), 6))
          .as("affinity"))
  }

  /** The importance family's STORED INDEX: gram key → distinct-raw-
    * carrier count over everything ingested so far. One row per distinct
    * corpus gram, SUM-mergeable with any disjoint batch's counts (the
    * boilerplateIndex contract) — the relation an ingest pipeline
    * persists between batches. */
  def importanceIndex(docs: DataFrame, k: Int = 2): DataFrame =
    Dedup.substringIndex(docs, k).select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("r_df"))

  /** Incremental importance — the append-only-ingest face of
    * [[importanceScores]]: score an incoming raw batch against the
    * stored [[importanceIndex]] without re-keying existing text. A batch
    * gram's raw-carrier count is stored + batch-internal (disjoint doc
    * sets, so the sum is EXACT, not approximate), and the target side is
    * static — the result equals the batch run over stored ∪ batch
    * RESTRICTED to the incoming docs (spec-pinned; the oracle replays
    * the union with that restriction). Scale: per ingest, gram-keying is
    * batch-sized; the index join ships stored counts only for gram keys
    * the batch carries. */
  def incrementalImportanceScores(index: DataFrame, target: DataFrame,
      incoming: DataFrame, k: Int = 2): DataFrame = {
    val inc = Fixpoint.materializedLeaf(Dedup.substringIndex(incoming, k).select("doc_id", "h").distinct())
    val rdf = inc.groupBy("h").agg(count(lit(1)).as("b_df"))
      .join(index.withColumnRenamed("r_df", "i_df"), Seq("h"), "left")
      .select(col("h"),
        (col("b_df") + coalesce(col("i_df"), lit(0L))).as("r_df"))
    importanceTail(incoming, inc, rdf, targetDf(target, k))
  }

  /** Linear quality-model gate — the fasttext-style classifier-filter
    * SHAPE (score = ⟨φ(text), W⟩, keep = score ≥ τ) every production
    * curation stack runs after the heuristic [[quality]] screen. The
    * weight vector is a deterministic stand-in (no ML runtimes in this
    * container — the multimodal stub-decode precedent: the Spark-side
    * plumbing is real, the learned parameters are a fixture):
    * W[d] = (37·(d+1)) % 19 − 9 spans [−9, 9]. Features are the exact-int
    * [[featurize]] projection, so the dot product is exact int64
    * (|v[d]| ≤ 14·words, dim·|v|·9 ≪ 2^40) — score and verdict are
    * bit-reproducible on any partitioning and SQL-replayable. Swapping in
    * a trained model = replacing W with a broadcast float array (same
    * plan: one projection per row, no shuffle, no UDF).
    * Output (doc_id, score, keep) for EVERY doc. */
  def scoreLinear(docs: DataFrame, dim: Int = 16, threshold: Long = 0L): DataFrame =
    featurize(docs, dim)
      .select(col("doc_id"),
        expr(s"aggregate(zip_with(embedding, " +
          s"transform(sequence(0, ${dim - 1}), d -> (37 * (d + 1)) % 19 - 9), " +
          "(v, wt) -> CAST(v AS BIGINT) * wt), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("score"))
      .withColumn("keep", col("score") >= threshold)
      .select("doc_id", "score", "keep")

  /** HOF twin of [[featurize]] — the SQL-expressible formulation the
    * codegen'd kernel must stay bit-equivalent to (FunctionsSpec), and
    * the arithmetic the DuckDB oracle replays. ~8x slower than the
    * kernel at sf0.1 (per-char split arrays per word, per-dim lambda
    * folds) — exists for the equivalence proof, not the hot path. */
  private[graft] def featurizeHof(docs: DataFrame, dim: Int = 16): DataFrame = {
    import graft.pipeline.TextHash
    // word hashes computed ONCE per row, then projected to all dims
    docs
      .select(col("doc_id"), expr(
        s"transform(${TextHash.wordsSpark("text")}, w -> " +
          "aggregate(filter(split(w, ''), c -> c <> ''), CAST(0 AS BIGINT), " +
          s"(acc, c) -> (acc * 31 + ascii(c)) % ${TextHash.P}) % 100003)").as("hs"))
      .select(col("doc_id"), expr(
        s"transform(sequence(0, ${dim - 1}), d -> " +
          "CAST(aggregate(hs, CAST(0 AS BIGINT), " +
          "(acc, h) -> acc + (h * (131 * (d + 1)) + 137 * d) % 29 - 14) AS FLOAT))")
        .as("embedding"))
  }

  // DuckDB twins for the query layer
  def qualityHitCondition: String = hitCondition(Stopwords.flatMap(_._2))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.pipeline.{Bpe, Corpus, Decontam, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.TextHash._
import graft.pipeline.Similarity._
import graft.pipeline.TextAnalysis._
import graft.iterate.Fixpoint

/** Training-data-pipeline coverage: dedup at four fidelity levels,
  * embedding similarity search, text analysis, multimodal plumbing. Every
  * query has a DuckDB oracle generated from the same TextHash/Similarity
  * constants — the hashes are engine-independent integer arithmetic, so
  * both engines agree bit-for-bit.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  private val MinhashThreshold = 0.8
  // band-key postings cap for the capped minhash variant: keys shared by
  // more docs than this leave candidate generation (boilerplate regime);
  // engine parameter and oracle HAVING clause must agree
  private val MinhashMaxBandOcc = 16L
  private val ContainmentThreshold = 0.9
  private val SimhashMaxHamming = 3
  private val NgramThreshold = 0.02
  private val NgramSampleMod = 5
  // winnowing (MOSS): 3-word grams, window 4 (selection density ~2/(w+1));
  // pairs need >= 4 shared selected fingerprints — probed cleanly above the
  // incidental-collision tail at every sf (27/24/237 pairs at the 3 sfs)
  private val WinnowK = 3
  private val WinnowW = 4
  private val WinnowMinShared = 4L
  // fingerprint-df cap for the capped winnow twin (boilerplate defense):
  // far above any true near-dup family, far below a template's carrier set
  private val WinnowMaxDf = 16L
  // semi-hard negative band: hardest negatives strictly below the presumed-
  // positive ceiling, at/above the uninformative floor (rounded-score cut).
  // Aliases of the Similarity defaults — one definition, so a caller using
  // hardNegatives' defaults matches the oracle literals by construction
  private val HardNegCeil = Similarity.DefaultHardNegCeil
  private val HardNegFloor = Similarity.DefaultHardNegFloor
  private val EmbThreshold = 0.40
  // SemDeDup clustering: same k/iteration constants as the IVF replay so
  // the oracle's unrolled-Lloyd cost stays proven at both scale factors
  private val SemK = 8
  private val SemIters = 3
  private val TopK = 5
  private val NumQueryVecs = 8
  private val VocabTopN = 100
  private val TfidfTopK = 3
  // collocations: minimum bigram occurrences before a PMI score is emitted
  private val PmiMinCount = 3
  private val StratPerGroup = 20
  // systematic PPS sample size (engine and oracle share the stride math)
  private val PpsSampleN = 50
  // priority sampling: per-source sample size
  private val PrioritySampleK = 25
  // novelty scoring: 4-word grams (shorter than dedup's 8 — novelty wants
  // phrase-level coverage, not verbatim-span evidence)
  private val NoveltyK = 4
  // DSIR-style importance: bigram-level grams (the paper's hashed-bigram
  // feature space); target = the two curated feeds, raw = the other 18
  private val ImportanceK = 2
  private val TargetSources = Seq("src0", "src1")
  // cluster-quota diversity sample: per-topic representative cap
  private val ClusterQuota = 16
  // selection pipeline: per-source keep count after the quality gate
  private val SelectPerSource = 10
  // curation thresholds (quality gate for the end-to-end pipeline)
  private val MinWords = 10
  private val MinUniqRatio = 0.3
  // frame sampling: 16-char "frames", keep every 4th
  private val FrameChars = 16
  private val FrameEvery = 4
  // resize: keep every 4th payload byte
  private val ResizeFactor = 4
  // decontamination: docs with doc_id % EvalMod == 0 play the benchmark set
  private val EvalMod = 50
  // exact-substring dedup: 8-word gram seeds, spans >= 16 words, postings
  // capped at 64 occurrences (never engages on testdata — max df is 3)
  private val SubstrK = 8
  private val SubstrMinLen = 16
  private val SubstrMaxOcc = 64L
  // self-repeat: the augmented corpus re-appends each doc's first
  // SelfRepPrefix words, guaranteeing an intra-doc span for the detector
  private val SelfRepMinLen = 12
  private val SelfRepPrefix = 20
  /** augmented (doc_id, text) — the Spark face; trim'd so both engines
    * tokenize the identical string */
  private def augDocsSpark(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr(s"concat(trim(text), ' ', array_join(slice(split(trim(text), ' '), 1, $SelfRepPrefix), ' '))")
        .as("text"))
  private def augDocsSqlDuck: String =
    s"SELECT doc_id, concat(trim(text), ' ', array_to_string((string_split(trim(text), ' '))[1:$SelfRepPrefix], ' ')) AS text FROM documents"

  // boilerplate scrub: a shared template string appended to every
  // BoilerMod'th doc (the synthetic face guaranteeing real boilerplate on
  // testdata — the q_text_selfrepeat precedent); gram keys present in
  // >= BoilerMinDf DISTINCT docs are template and are removed from ALL
  // carriers. BoilerMinDf = 5 sits above the natural cross-doc gram df on
  // testdata (max 3 — planted dup pairs/triples), so exactly the template
  // is scrubbed; any organic >= 5-doc family would legitimately qualify
  // in both engines alike.
  private val BoilerMod = 5
  private val BoilerMinDf = 5L
  private val BoilerTemplate =
    "subscribe to the data pipeline newsletter for weekly updates and more stories every single day"
  private def boilerDocsSpark(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % BoilerMod === 0,
        concat(trim(col("text")), lit(" " + BoilerTemplate)))
        .otherwise(trim(col("text"))).as("text"))
  private def boilerDocsSqlDuck: String =
    s"SELECT doc_id, CASE WHEN doc_id % $BoilerMod = 0 " +
      s"THEN concat(trim(text), ' $BoilerTemplate') ELSE trim(text) END AS text FROM documents"

  val defs: Map[String, Q] = Map(
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d)).orderBy("keeper")),

    "q_dedup_exact_fp" -> ((s, d) =>
      Dedup.exactByFingerprint(Tables.documents(s, d)).orderBy("keeper")),

    // the 128-bit widening: two independent fingerprints, pair-collision
    // odds ~1/(P*P2) — the variant to trust before deleting data
    "q_dedup_exact_fp128" -> ((s, d) =>
      Dedup.exactByFingerprint128(Tables.documents(s, d)).orderBy("keeper")),

    // normalization-based dedup: casefold/punct-strip/space-collapse before
    // grouping — the cheap screen between byte-exact and MinHash
    "q_dedup_normtext" -> ((s, d) =>
      Dedup.normalizedExact(Tables.documents(s, d)).orderBy("keeper")),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashDedup(Tables.documents(s, d), MinhashThreshold)
        .orderBy("doc_a", "doc_b")),

    // band-key postings cap engaged (the boilerplate-regime defense —
    // skew sweep measured 2.3x candidate blowup without it); oracle
    // replays the same cap, so parity proves the capped candidate set
    "q_dedup_minhash_capped" -> ((s, d) =>
      Dedup.minhashDedup(Tables.documents(s, d), MinhashThreshold,
          MinhashMaxBandOcc)
        .orderBy("doc_a", "doc_b")),

    // pairs -> transitive duplicate clusters (keeper = min doc_id)
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.minhashDedup(Tables.documents(s, d), MinhashThreshold))
        .orderBy("doc_id")),

    // duplicate-family size histogram: how many near-dup clusters of each
    // size the corpus carries — the dedup observability number (a corpus
    // with ten 1000-doc families needs different action than one with ten
    // thousand pairs); two hash aggs over the cluster relation
    "q_dedup_family_hist" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.minhashDedup(Tables.documents(s, d), MinhashThreshold))
        .groupBy("keeper").agg(count(lit(1)).as("family_size"))
        .groupBy("family_size").agg(count(lit(1)).as("n_families"))
        .orderBy("family_size")),

    // the deduplicated corpus itself (keepers + singletons)
    "q_dedup_final" -> ((s, d) =>
      Dedup.deduplicate(Tables.documents(s, d), MinhashThreshold)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // incremental ingest: merge the odd-id batch into the already-deduped
    // even-id corpus; result must equal batch dedup of the union
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = Dedup.deduplicate(docs.filter(col("doc_id") % 2 === 0), MinhashThreshold)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      Dedup.incrementalDeduplicate(existing, incoming, MinhashThreshold)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // the stored-index ingest path: identical split and oracle as
    // q_dedup_incremental, but the existing corpus's signatures come from
    // a materialized index frame — the overload never re-shingles existing
    // text, proving stored-index ≡ recompute by hash
    "q_dedup_incremental_idx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = Dedup.deduplicate(docs.filter(col("doc_id") % 2 === 0), MinhashThreshold)
      // the "stored" index: materialized once, as a real pipeline would
      // persist it at previous-ingest time
      val index = Fixpoint.materializedLeaf(Dedup.minhashSignatures(existing))
      Dedup.incrementalDeduplicate(existing, docs.filter(col("doc_id") % 2 === 1),
          MinhashThreshold, index)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // exact-substring dedup (Lee et al. 2022, suffix-array-free): maximal
    // verbatim word spans >= SubstrMinLen shared between two docs at ANY
    // offset — the shift-invariant dedup signal fixed-window chunk hashing
    // (q_text_chunk_dup) misses by construction (PipelineSpec proves the
    // miss on a shifted-span fixture)
    "q_dedup_substring" -> ((s, d) =>
      Dedup.substringSpans(Tables.documents(s, d), SubstrK, SubstrMinLen, SubstrMaxOcc)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")),

    // per-doc duplicated-span coverage: fraction of each doc's words inside
    // some cross-doc shared span — the quality-filter decision signal
    // (span intervals coalesced via the gaps-and-islands sweep)
    "q_dedup_substring_cov" -> ((s, d) =>
      Dedup.substringCoverage(Tables.documents(s, d), SubstrK, SubstrMinLen, SubstrMaxOcc)
        .orderBy("doc_id")),

    // incremental substring ingest: spans touching the odd-id batch
    // against the even-id existing corpus — existing-existing pairs never
    // re-examined; oracle = batch union replay restricted to batch-touching
    // pairs (the q_dedup_incremental equality convention)
    "q_dedup_substring_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalSubstringSpans(
          Dedup.substringIndex(docs.filter(col("doc_id") % 2 === 0), SubstrK),
          docs.filter(col("doc_id") % 2 === 1),
          SubstrK, SubstrMinLen, SubstrMaxOcc)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    }),

    // the stored-index twin: identical split and oracle, but the existing
    // corpus's gram index is MATERIALIZED — the ingest never re-keys
    // existing text; hash equality proves stored-index == recompute
    "q_dedup_substring_inc_idx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val index = Fixpoint.materializedLeaf(
        Dedup.substringIndex(docs.filter(col("doc_id") % 2 === 0), SubstrK))
      Dedup.incrementalSubstringSpans(index, docs.filter(col("doc_id") % 2 === 1),
          SubstrK, SubstrMinLen, SubstrMaxOcc)
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    }),

    // pure-SQL surface for the substring-dedup pipeline: gram keys ->
    // postings cap -> cross-doc join -> diagonal runs, composed entirely
    // in one spark.sql statement over graft_gram_keys — a SQL-only user
    // runs the same exact-substring dedup, hash-matching the same oracle
    "q_sql_substring" -> ((s, d) => {
      graft.functions.GraftExtensions.installInto(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      s.sql(
        s"""WITH g AS (
           |  SELECT doc_id, CAST(p + 1 AS BIGINT) AS pos, h
           |  FROM graft_documents
           |  LATERAL VIEW posexplode(graft_gram_keys(text, $SubstrK)) t AS p, h),
           |hot AS (SELECT h FROM g GROUP BY h HAVING count(*) > $SubstrMaxOcc),
           |kept AS (SELECT g.* FROM g LEFT ANTI JOIN hot ON g.h = hot.h),
           |m AS (SELECT a.doc_id AS doc_a, a.pos AS pa, b.doc_id AS doc_b, b.pos AS pb
           |      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
           |r AS (SELECT doc_a, doc_b, pa - pb AS diag, pa,
           |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
           |      FROM m),
           |runs AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
           |           count(*) + ${SubstrK - 1} AS span_words
           |         FROM r GROUP BY doc_a, doc_b, diag, grp)
           |SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, span_words
           |FROM runs WHERE span_words >= $SubstrMinLen
           |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin)
    }),

    // the dedup ACTION: remove every duplicated span's later (higher
    // doc_id) occurrence, keeping exactly one surviving copy corpus-wide
    "q_dedup_substring_scrub" -> ((s, d) =>
      Dedup.substringScrub(Tables.documents(s, d), SubstrK, SubstrMinLen, SubstrMaxOcc)
        .orderBy("doc_id")),

    // frequency-based boilerplate scrub (CCNet/RefinedWeb template
    // removal): grams in >= BoilerMinDf distinct docs vanish from ALL
    // carriers — no pairwise join anywhere, linear in corpus grams; face
    // corpus appends a shared template to every BoilerMod'th doc
    "q_dedup_boilerplate" -> ((s, d) =>
      Dedup.boilerplateScrub(boilerDocsSpark(Tables.documents(s, d)),
          SubstrK, BoilerMinDf)
        .orderBy("doc_id")),

    // arrival-time face: odd-id batch scrubbed against the materialized
    // even-id df index (union counts = stored + batch, exact on disjoint
    // doc sets) — only the batch is ever gram-keyed
    "q_dedup_boilerplate_inc" -> ((s, d) => {
      val face = boilerDocsSpark(Tables.documents(s, d))
      val index = Fixpoint.materializedLeaf( // the "stored" counts relation
        Dedup.boilerplateIndex(face.filter(col("doc_id") % 2 === 0), SubstrK))
      Dedup.incrementalBoilerplateScrub(index,
          face.filter(col("doc_id") % 2 === 1), SubstrK, BoilerMinDf)
        .orderBy("doc_id")
    }),

    // intra-doc repeated spans on the deterministically augmented corpus
    // (each doc's first 20 words re-appended — the synthetic face that
    // guarantees repeats on testdata, like q_graph_cc_chain's chain)
    "q_text_selfrepeat" -> ((s, d) =>
      Dedup.selfRepeatSpans(augDocsSpark(Tables.documents(s, d)),
          SubstrK, SelfRepMinLen, SubstrMaxOcc)
        .orderBy("doc_id", "a_start", "b_start")),

    // same output as q_dedup_final, via the bloom-pruned anti-join (the
    // scale path when the loser set outgrows a broadcast) — oracle unchanged
    "q_dedup_final_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val losers = Dedup.dedupClusters(Dedup.minhashDedup(docs, MinhashThreshold))
        .filter(col("doc_id") =!= col("keeper")).select("doc_id")
      graft.ops.BloomPrune.bloomAntiJoin(docs, losers, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashDedup(Tables.documents(s, d), SimhashMaxHamming)
        .orderBy("doc_a", "doc_b")),

    // containment (asymmetric) near-dup: the smaller shingle set mostly
    // inside the larger — doc-inside-doc duplication Jaccard under-scores
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentDedup(Tables.documents(s, d), ContainmentThreshold)
        .orderBy("doc_a", "doc_b")),

    // the PPJoin prefix-filtered scale path: identical output (same
    // oracle SQL), candidates from rare-shingle prefixes only
    "q_dedup_containment_pf" -> ((s, d) =>
      Dedup.containmentDedupPrefix(Tables.documents(s, d), ContainmentThreshold)
        .orderBy("doc_a", "doc_b")),

    // the single entry point: routes by the measured Σdf²/Σdf fan-out
    // ratio (the documents table sits in the all-pairs regime at every
    // sf); identical output and oracle whichever path it picks
    "q_dedup_containment_auto" -> ((s, d) =>
      Dedup.containmentDedupAuto(Tables.documents(s, d), ContainmentThreshold)
        .orderBy("doc_a", "doc_b")),

    // cross-source duplication matrix: where do the near-dup pairs come
    // from? The corpus-diagnostics view that decides which source to
    // drop/deprioritize when two feeds substantially overlap.
    "q_dedup_source_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.minhashDedup(docs, MinhashThreshold)
        .join(src.toDF("doc_a", "source_a"), "doc_a")
        .join(src.toDF("doc_b", "source_b"), "doc_b")
        .groupBy(least(col("source_a"), col("source_b")).as("s1"),
          greatest(col("source_a"), col("source_b")).as("s2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("s1", "s2")
    }),

    // KMV set-operation face (the sixth sketch family member's REASON to
    // exist): per source pair, |∪| / |∩| / Jaccard of the distinct
    // 3-gram-hash sets estimated from two K=64-row K-min sketches —
    // joined against the EXACT pair arithmetic (the q_dedup_source_
    // overlap/q_decontam_overlap price this face avoids at scale: the
    // sketch join touches ≤ K·|pairs| rows where the exact twin joins
    // the full gram relation). In-band law on the union estimate
    // ([0.5, 2]× the exact union — 13% σ at K = 64); intersection and
    // Jaccard estimates ride as REPORTED values (a 1–8%-Jaccard pair
    // keeps ~0–5 common hashes, so their relative error is unbounded by
    // design — the absolute theta-scale, not the face, is the contract).
    "q_kmv_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val grams = Dedup.shingleHashes(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(col("source"), explode(col("hs")).as("g"))
      val sk = Fixpoint.materializedLeaf( // built once, paired twice
        graft.ops.KmvSketch.sketch(grams, Seq("source"), "g"))
      val srcs = sk.select("source").distinct()
      val prs = srcs.toDF("s1").crossJoin(srcs.toDF("s2"))
        .filter(col("s1") < col("s2"))
      val est = graft.ops.KmvSketch.overlap(
        prs.join(sk.toDF("s1", "h"), "s1"),
        prs.join(sk.toDF("s2", "h"), "s2"), Seq("s1", "s2"))
      // the exact twin (distinct gram sets; pairs with no shared gram
      // carry zeros through the left join)
      val dg = Fixpoint.materializedLeaf(grams.distinct())
      val nd = dg.groupBy("source").agg(count(lit(1)).as("nd"))
      val iex = dg.toDF("s1", "g")
        .join(dg.toDF("s2", "g2"),
          col("g") === col("g2") && col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("inter_exact"))
      est
        .join(nd.toDF("s1", "nda"), "s1")
        .join(nd.toDF("s2", "ndb"), "s2")
        .join(iex, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          col("n_union_kept"), col("n_inter_kept"),
          col("union_est"), col("inter_est"), col("jaccard_est"),
          (col("nda") + col("ndb") - coalesce(col("inter_exact"), lit(0L)))
            .as("union_exact"),
          coalesce(col("inter_exact"), lit(0L)).as("inter_exact"))
        .withColumn("in_band",
          col("union_est") >= lit(0.5) * col("union_exact") &&
            col("union_est") <= lit(2.0) * col("union_exact"))
        .orderBy("s1", "s2")
    }),

    // binary-content exact dedup: the multimodal twin of q_dedup_exact_fp
    // — fingerprint the payload BYTES (not a text projection), group on
    // (fp, n_bytes); the dedupe that runs before any expensive decode
    "q_multimodal_dedup" -> ((s, d) =>
      Multimodal.binarize(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.polyHash(decode(col("content"), "UTF-8")).as("fp"),
          col("meta.n_bytes").as("n_bytes"))
        .groupBy("fp", "n_bytes")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper")),

    // priority-aware canonical selection inside duplicate clusters: keep
    // the copy from the most trusted source (rank = numeric source suffix),
    // not the lowest id — the multi-source corpus merge policy
    "q_dedup_priority" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.dedupClusters(Dedup.minhashDedup(docs, MinhashThreshold))
      Dedup.canonicalByPriority(docs, clusters,
          expr("CAST(substr(source, 4) AS BIGINT)"))
        .orderBy("cluster")
    }),

    // benchmark decontamination: per-training-doc count of distinct 3-gram
    // hashes shared with the eval slice (doc_id % EvalMod == 0) — the
    // "scrub the benchmark from the crawl" screen
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.overlapCounts(
          docs.filter(col("doc_id") % EvalMod =!= 0),
          docs.filter(col("doc_id") % EvalMod === 0))
        .orderBy("doc_id")
    }),

    // soft contamination scoring: per train doc, the fraction of its
    // distinct grams found in the eval slice — the thresholdable score
    // relation behind the binary scrub above
    "q_decontam_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.overlapScores(
          docs.filter(col("doc_id") % EvalMod =!= 0),
          docs.filter(col("doc_id") % EvalMod === 0))
        .orderBy("doc_id")
    }),

    // first-occurrence gram novelty in ingest (doc_id) order: the
    // marginal-new-content fraction per doc — the data-selection signal
    // that ranks recombinations of seen text low even when no single
    // partner makes them a near-dup
    "q_text_novelty" -> ((s, d) =>
      TextAnalysis.noveltyScores(Tables.documents(s, d), NoveltyK)
        .orderBy("doc_id")),

    // the append-only ingest face: odd-id batch scored against the
    // materialized even-id gram index — only the batch is ever gram-keyed;
    // equals the batch run over the union restricted to the batch (the
    // incremental family's hash-equality proof shape)
    "q_text_novelty_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the "stored" relation, persisted at prior-ingest time
      val index = Fixpoint.materializedLeaf(
        TextAnalysis.noveltyIndex(docs.filter(col("doc_id") % 2 === 0), NoveltyK))
      TextAnalysis.incrementalNoveltyScores(index,
          docs.filter(col("doc_id") % 2 === 1), NoveltyK)
        .orderBy("doc_id")
    }),

    // DSIR-style importance score: every crawl doc scored by how
    // target-like its bigram profile is (t_mass/r_mass over distinct-
    // carrier counts) — the "select crawl docs that look like the curated
    // feeds" signal; selection is one downstream filter/top-k
    "q_sample_importance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.importanceScores(
          docs.filter(!col("source").isin(TargetSources: _*)),
          docs.filter(col("source").isin(TargetSources: _*)), ImportanceK)
        .orderBy("doc_id")
    }),

    // the append-only ingest face: odd-id raw batch scored against the
    // materialized even-id r_df index (sum-merged with batch-internal
    // counts — exact, disjoint doc sets); equals the batch run over the
    // union restricted to the batch (the incremental family's
    // hash-equality proof shape)
    "q_sample_importance_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val raw = docs.filter(!col("source").isin(TargetSources: _*))
      val index = Fixpoint.materializedLeaf(TextAnalysis.importanceIndex(
          raw.filter(col("doc_id") % 2 === 0), ImportanceK)) // the "stored" relation
      TextAnalysis.incrementalImportanceScores(index,
          docs.filter(col("source").isin(TargetSources: _*)),
          raw.filter(col("doc_id") % 2 === 1), ImportanceK)
        .orderBy("doc_id")
    }),

    // selection-stage composition: quality-model gate × importance score
    // × per-source affinity-ranked cut — "of what passes the classifier,
    // keep each feed's most target-like K" in one query; the rank cut
    // lowers to the bounded-heap pushdown, so a giant feed never
    // full-sorts on one task
    "q_select_training" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val raw = docs.filter(!col("source").isin(TargetSources: _*))
      val target = docs.filter(col("source").isin(TargetSources: _*))
      val scored = TextAnalysis.importanceScores(raw, target, ImportanceK)
        .select("doc_id", "affinity")
        .join(TextAnalysis.scoreLinear(raw).filter(col("keep"))
          .select("doc_id", "score"), "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
      val w = Window.partitionBy("source")
        .orderBy(desc("affinity"), asc("doc_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= SelectPerSource)
        .select("source", "rn", "doc_id", "affinity", "score")
        .orderBy("source", "rn")
    }),

    // pure-SQL surface for the importance pipeline: gram keys -> split
    // carrier counts -> mass sums in ONE spark.sql statement over the
    // registered kernel — a SQL-only user runs the same DSIR-style
    // scorer, hash-matching q_sample_importance's oracle
    "q_sql_importance" -> ((s, d) => {
      graft.functions.GraftExtensions.installInto(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      val tgt = TargetSources.map(x => s"'$x'").mkString(", ")
      s.sql(
        s"""WITH dg AS (
           |  SELECT doc_id, source, h FROM (
           |    SELECT doc_id, source,
           |      explode(array_distinct(graft_gram_keys(text, $ImportanceK))) AS h
           |    FROM graft_documents)),
           |tdf AS (
           |  SELECT h, count(*) AS t_df FROM dg
           |  WHERE source IN ($tgt) GROUP BY h),
           |rdg AS (SELECT doc_id, h FROM dg WHERE source NOT IN ($tgt)),
           |rdf AS (SELECT h, count(*) AS r_df FROM rdg GROUP BY h),
           |sc AS (
           |  SELECT doc_id, count(*) AS n_grams,
           |    sum(coalesce(t_df, CAST(0 AS BIGINT))) AS t_mass,
           |    sum(r_df) AS r_mass
           |  FROM rdg JOIN rdf USING (h) LEFT JOIN tdf USING (h)
           |  GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(sc.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           |  coalesce(sc.t_mass, CAST(0 AS BIGINT)) AS t_mass,
           |  coalesce(sc.r_mass, CAST(0 AS BIGINT)) AS r_mass,
           |  CASE WHEN sc.n_grams IS NULL THEN CAST(0.0 AS DOUBLE)
           |       ELSE round(CAST(sc.t_mass AS DOUBLE) / sc.r_mass, 6)
           |  END AS affinity
           |FROM graft_documents d LEFT JOIN sc USING (doc_id)
           |WHERE d.source NOT IN ($tgt)
           |ORDER BY doc_id""".stripMargin)
    }),

    // cluster-quota diversity sample: ≤ ClusterQuota representatives per
    // Lloyd topic cluster, hash-priority order — topic-balanced selection
    // (head-heavy genres flattened, tail genres kept whole)
    "q_sample_cluster" -> ((s, d) =>
      Similarity.clusterQuotaSample(Tables.embeddings(s, d),
          SemK, SemIters, ClusterQuota)
        .orderBy("cluster", "rn")),

    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), NgramThreshold, NgramSampleMod)
        .orderBy("doc_a", "doc_b")),

    // winnowing (MOSS) fingerprint screen: per-doc local minima of every
    // w-window over the gram-hash stream, pairs by shared selected prints —
    // the correctness-bounded SAMPLED substring index (any shared run of
    // w+k-1 words is guaranteed a common fingerprint at ~2/(w+1) density)
    "q_dedup_winnow" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), WinnowK, WinnowW, WinnowMinShared)
        .orderBy("doc_a", "doc_b")),

    // the postings-cap twin: prints carried by > maxDf docs leave the pair
    // join (template signatures, not near-dup evidence) — the minhash
    // band-occupancy-cap pattern, cap replayed in the oracle's HAVING
    "q_dedup_winnow_capped" -> ((s, d) =>
      Dedup.winnowPairs(Tables.documents(s, d), WinnowK, WinnowW,
          WinnowMinShared, WinnowMaxDf)
        .orderBy("doc_a", "doc_b")),

    // single entry point (r12 verdict item 5): a 16 B/row duplication
    // probe (rows vs distinct exact fps) routes the plan — non-degenerate
    // corpora (these tables: ratio 1.000-1.002) run the capped screen
    // directly, so this row's output and oracle SQL are
    // q_dedup_winnow_capped VERBATIM; duplication-heavy corpora collapse
    // exact families to representatives first, so the cap counts families
    // and the replica-quadratic pair space never exists (PipelineSpec
    // fixes the routed branch on a 10-replica fixture)
    "q_dedup_winnow_auto" -> ((s, d) =>
      Dedup.winnowPairsAuto(Tables.documents(s, d), WinnowK, WinnowW,
          WinnowMinShared, WinnowMaxDf)
        .orderBy("doc_a", "doc_b")),

    // incremental ingest: odd-id batch screened against the even-id
    // corpus's STORED fingerprint index + itself; winnow selection is
    // doc-local, so the result must equal the batch run over the union
    // restricted to pairs touching an incoming doc — the oracle replays
    // exactly that restriction
    "q_dedup_winnow_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stored = Dedup.winnowIndex(docs.filter(col("doc_id") % 2 === 0),
        WinnowK, WinnowW)
      Dedup.incrementalWinnowPairs(stored, docs.filter(col("doc_id") % 2 === 1),
          WinnowK, WinnowW, WinnowMinShared)
        .orderBy("doc_a", "doc_b")
    }),

    "q_dedup_embedding" -> ((s, d) =>
      Similarity.lshNearDup(Tables.embeddings(s, d), EmbThreshold)
        .orderBy("id_a", "id_b")),

    // SemDeDup-style semantic dedup: k-means topic clusters scope the
    // near-dup pruning (only same-cluster pairs prune), LSH banding
    // bounds candidate enumeration inside clusters; the oracle replays
    // the quantized Lloyd training + assignment + banded pair pipeline
    "q_dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), SemK, SemIters, EmbThreshold)
        .orderBy("vec_id")),

    // the pair view of the same pipeline (which cluster produced each
    // near-dup pair, at what cosine) — the corpus-diagnostics face
    "q_dedup_semantic_pairs" -> ((s, d) =>
      Similarity.semanticNearDupPairs(Tables.embeddings(s, d), SemK, SemIters, EmbThreshold)
        .orderBy("cluster", "id_a", "id_b")),

    // incremental near-dup ingest: the pairs the odd-id vector batch adds
    // to the even-id corpus — the band join runs incoming-vs-all only,
    // never existing-vs-existing; must equal the batch pipeline on the
    // union restricted to at-least-one-incoming (the oracle literally is
    // that restriction)
    "q_dedup_embedding_inc" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.incrementalNearDup(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), EmbThreshold)
        .orderBy("id_a", "id_b")
    }),

    // stored-index incremental near-dup at the STEADY-STATE ratio
    // (incoming = 10% of vectors): the existing 90%'s full-width keys come
    // from a materialized index frame, so only the batch pays the
    // hyperplane kernel — the per-batch cost a production ingest actually
    // pays, vs q_dedup_embedding_inc's by-construction 50/50 split
    "q_dedup_embedding_idx" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val existing = emb.filter(col("vec_id") % 10 =!= 9)
      val index = Fixpoint.materializedLeaf(Similarity.ndIndex(existing))
      Similarity.incrementalNearDup(existing, emb.filter(col("vec_id") % 10 === 9),
          EmbThreshold, index)
        .orderBy("id_a", "id_b")
    }),

    // the ingest-time screen (streaming twin runs the same function over
    // an unbounded stream): odd-id vectors probed against the even-id
    // index at the INDEX's mask width, stateless exact-once
    "q_dedup_screen" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.nearDupScreen(
          emb.filter(col("vec_id") % 2 === 1),
          emb.filter(col("vec_id") % 2 === 0), EmbThreshold)
        .orderBy("in_id", "idx_id")
    }),

    "q_sim_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < NumQueryVecs), TopK)
        .orderBy("qid", "rn")
    }),

    // semi-hard negative mining (contrastive-training batch construction):
    // per anchor, the hardest negatives inside the [floor, ceil) rounded-
    // score band — q_sim_topk's scan with the band cut, so the bounded-heap
    // and bucket-route scale arguments carry over unchanged
    "q_sim_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < NumQueryVecs),
          TopK, HardNegCeil, HardNegFloor)
        .orderBy("qid", "rn")
    }),

    // LSH-bucketed ANN: the deterministic scale path (fixed integer
    // hyperplanes -> bit-exact oracle, unlike the float-trained IVF)
    "q_sim_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < NumQueryVecs), TopK)
        .orderBy("qid", "rn")
    }),

    // multiprobe LSH ANN: base bucket + 1-bit flips per band on the query
    // side — recall without a bigger index, still bit-exact vs the oracle
    "q_sim_lsh_mp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopKMultiprobe(emb, emb.filter(col("vec_id") < NumQueryVecs), TopK)
        .orderBy("qid", "rn")
    }),

    // IVF ANN (k-means coarse quantizer, nprobe cells scanned per query).
    // Quantized centroid updates (VecKMeans.QuantScale) make training
    // bit-deterministic, so the ENTIRE pipeline — 3 Lloyd iterations,
    // assignment, probe ranking, cosine top-k — is oracle-checked against
    // simIvfSql's unrolled CTEs; VecKMeansSpec adds recall vs brute force.
    "q_sim_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.pipeline.VecKMeans.train(emb, k = 8, iterations = 3)
      graft.pipeline.VecKMeans.ivfTopK(emb, emb.filter(col("vec_id") < NumQueryVecs),
          cents, TopK, nprobe = 3)
        .orderBy("qid", "rn")
    }),

    // recall@k audit: per query, |IVF top-k ∩ brute top-k| — the ANN
    // quality number every approximate index needs next to its speed;
    // exact integer counts, so cross-engine hash parity is free
    "q_sim_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < NumQueryVecs)
      val truth = Similarity.bruteForceTopK(emb, qs, TopK)
        .select(col("qid"), col("nid"))
      val cents = graft.pipeline.VecKMeans.train(emb, k = 8, iterations = 3)
      val approx = graft.pipeline.VecKMeans.ivfTopK(emb, qs, cents, TopK, nprobe = 3)
        .select(col("qid").as("aqid"), col("nid").as("anid"))
      // |queries| x k rows by construction — broadcast beats the SMJ +
      // two exchanges the stats-blind planner picks
      truth.join(broadcast(approx),
          col("qid") === col("aqid") && col("nid") === col("anid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k_true"), count(col("anid")).as("n_hits"))
        .orderBy("qid")
    }),

    // PQ ANN: codebooks train with the same quantized-update determinism
    // as IVF, and the ADC candidate set is the global top-refine by
    // (score, nid) — so training, encoding, ADC scan, and exact rerank
    // are all oracle-checked (simPqSql); recall measured in VecKMeansSpec.
    // Exact rerank means emitted scores are true cosines.
    "q_sim_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = graft.pipeline.ProductQuant.train(emb, iterations = 3)
      graft.pipeline.ProductQuant.adcTopK(emb, emb.filter(col("vec_id") < NumQueryVecs),
          cb, TopK, refine = 25)
        .orderBy("qid", "rn")
    }),

    // IVF+PQ composite ANN (the FAISS-IVFPQ shape, raw-vector codes): a
    // k-means coarse quantizer prunes each query's ADC scan to nprobe
    // cells, PQ codes bound per-candidate cost to M table reads, exact
    // rerank makes emitted scores true cosines. Both trainings share the
    // quantized-update determinism, so the ENTIRE composite — two
    // trainings, cell probe ranking, restricted ADC scan, rerank — is
    // oracle-checked (simIvfPqSql); recall measured in VecKMeansSpec.
    "q_sim_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.pipeline.VecKMeans.train(emb, k = 8, iterations = 3)
      val cb = graft.pipeline.ProductQuant.train(emb, iterations = 3)
      graft.pipeline.ProductQuant.ivfpqTopK(emb, emb.filter(col("vec_id") < NumQueryVecs),
          cents, cb, TopK, nprobe = 3, refine = 25)
        .orderBy("qid", "rn")
    }),

    "q_text_langid" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d)).orderBy("doc_id")),

    "q_text_quality" -> ((s, d) =>
      TextAnalysis.quality(Tables.documents(s, d)).orderBy("doc_id")),

    "q_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d)).orderBy("doc_id")),

    "q_text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy("doc_id")),

    "q_text_redact" -> ((s, d) =>
      TextAnalysis.redact(Tables.documents(s, d)).orderBy("doc_id")),

    "q_text_chunks" -> ((s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d).filter(col("doc_id") < 100))
        .orderBy("doc_id", "chunk_idx")),

    // hash-projection text featurizer: documents → dense float vectors,
    // the model-free bridge that lets the whole vector stack (ANN,
    // near-dup, k-means, SemDeDup) run on raw text
    // (the driver compare cannot sort nested list columns, so the catalog
    // face joins the exactly-integer feature values into a CSV string;
    // the float cast is lossless both ways)
    "q_text_embed" -> ((s, d) =>
      TextAnalysis.featurize(Tables.documents(s, d))
        .select(col("doc_id"),
          expr("array_join(transform(embedding, x -> CAST(x AS BIGINT)), ',')")
            .as("embedding_csv"))
        .orderBy("doc_id")),

    // inter-document verbatim repetition: fraction of each doc's disjoint
    // chunks appearing verbatim in OTHER docs — the line-level-dedup
    // quality signal whole-document near-dup misses
    "q_text_chunk_dup" -> ((s, d) =>
      TextAnalysis.chunkDupStats(Tables.documents(s, d)).orderBy("doc_id")),

    // pure-SQL surface: the registered graft_* functions driven entirely
    // through spark.sql — a SQL-only user gets the same engine
    "q_sql_textstats" -> ((s, d) => {
      // self-sufficient on any session (idempotent function registration)
      graft.functions.GraftExtensions.installInto(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      s.sql("""SELECT doc_id, graft_polyhash(trim(text)) AS fp,
                      graft_simhash(text) AS sim
               FROM graft_documents ORDER BY doc_id""")
    }),

    // pure-SQL surface for the HEADLINE dedup pipeline: shingle -> minhash
    // -> banded LSH self-join -> exact-Jaccard verify, composed entirely
    // in one spark.sql statement over the registered graft_* functions —
    // a SQL-only user runs the same MinHash dedup the Column API offers,
    // and the result hash-matches q_dedup_minhash's DuckDB oracle.
    "q_sql_dedup" -> ((s, d) => {
      graft.functions.GraftExtensions.installInto(s)
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      val bandStructs = (0 until Bands).map(b =>
        s"named_struct('band', $b, 'key', ${bandKeySpark("mh", b)})").mkString(", ")
      s.sql(
        s"""WITH sh AS (
           |  SELECT doc_id, hs, graft_minhash(hs) AS mh FROM (
           |    SELECT doc_id, graft_shingle_hashes(text) AS hs FROM graft_documents)
           |  WHERE size(hs) > 0),
           |bands AS (
           |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
           |    SELECT doc_id, explode(array($bandStructs)) AS bk FROM sh)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, jacc FROM (
           |  SELECT c.doc_a, c.doc_b, graft_jaccard(x.hs, y.hs) AS jacc
           |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a
           |              JOIN sh y ON y.doc_id = c.doc_b)
           |WHERE jacc >= $MinhashThreshold
           |ORDER BY doc_a, doc_b""".stripMargin)
    }),

    // pure-SQL surface for the EMBEDDING near-dup pipeline: the
    // graft_neardup_keys kernel, the corpus-size-adaptive mask ladder (a
    // CASE over a count(*) scalar — the identical in-plan decision
    // Similarity.ndBuckets makes), the banded self-join, and a graft_dot
    // cosine verify, composed in one spark.sql statement. A SQL-only user
    // runs the same near-dup screen the Column API offers; hash-matches
    // q_dedup_embedding's DuckDB oracle.
    "q_sql_neardup" -> ((s, d) => {
      graft.functions.GraftExtensions.installInto(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_embeddings")
      val bandStructs = (0 until Similarity.NdBands).map(b =>
        s"named_struct('band', $b, 'key', element_at(ks, ${b + 1}) & (SELECT mask FROM msk))")
        .mkString(", ")
      s.sql(
        s"""WITH msk AS (
           |  SELECT BIGINT(${Similarity.ndMaskSql("(SELECT count(*) FROM graft_embeddings)")}) AS mask),
           |buckets AS (
           |  SELECT vec_id, bk.band AS band, bk.key AS key FROM (
           |    SELECT vec_id, explode(array($bandStructs)) AS bk FROM (
           |      SELECT vec_id, graft_neardup_keys(embedding) AS ks FROM graft_embeddings))),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM buckets a JOIN buckets b
           |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
           |vecs AS (
           |  SELECT vec_id, embedding, SQRT(graft_dot(embedding, embedding)) AS nrm
           |  FROM graft_embeddings)
           |SELECT id_a, id_b, score FROM (
           |  SELECT c.id_a, c.id_b,
           |    ROUND(graft_dot(x.embedding, y.embedding) / (x.nrm * y.nrm), 6) AS score
           |  FROM cand c JOIN vecs x ON x.vec_id = c.id_a
           |              JOIN vecs y ON y.vec_id = c.id_b)
           |WHERE score >= $EmbThreshold
           |ORDER BY id_a, id_b""".stripMargin)
    }),

    // corpus statistics: vocabulary with doc frequencies, TF-IDF top terms
    "q_text_vocab" -> ((s, d) =>
      Corpus.vocabulary(Tables.documents(s, d), VocabTopN)),

    "q_text_tfidf" -> ((s, d) =>
      Corpus.tfidf(Tables.documents(s, d), TfidfTopK).orderBy("doc_id", "rn")),

    "q_text_bm25" -> ((s, d) =>
      Corpus.bm25(Tables.documents(s, d), TfidfTopK).orderBy("doc_id", "rn")),

    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id")),

    // per-source distinctive terms (corpus-level tf-idf: source term
    // frequency x rarity across sources) — the "what is this domain
    // about" signature used to audit a new crawl source. Same rational
    // no-log score policy as tfidf; (source, word) pairs partial-aggregate
    // map-side.
    "q_source_signature" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = Fixpoint.materializedLeaf( // consumed by sfq AND the scored join
        docs.select(col("source"), explode(expr(wordsSpark("text"))).as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("tf")))
      val sfq = tf.groupBy("word").agg(count(lit(1)).as("nsrc"))
      val nSources = docs.agg(countDistinct("source").cast("double").as("n_sources"))
      val w = Window.partitionBy("source").orderBy(desc("score"), asc("word"))
      tf.join(sfq, "word").crossJoin(broadcast(nSources))
        .withColumn("score", col("tf") * col("n_sources") / col("nsrc"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= TfidfTopK)
        .select("source", "rn", "word", "tf", "nsrc", "score")
        .orderBy("source", "rn")
    }),

    // sqrt-temperature source mixing: the data-mixture computation every
    // multi-source training run does before sampling
    "q_mixture_weights" -> ((s, d) =>
      Corpus.mixtureWeights(Tables.documents(s, d)).orderBy("source")),

    // the executed mixture: per-source deterministic sample of target_n
    // docs (the sampling pass the weights exist for)
    "q_mixture_sample" -> ((s, d) =>
      Corpus.mixtureSample(Tables.documents(s, d)).orderBy("source", "rn")),

    // budget-constrained mixture: quotas in TOKENS (half the corpus's
    // BPE-ish total), each source's hash-ordered prefix while the running
    // token sum fits — the allocation pass when the training budget is
    // tokens, not documents
    "q_mixture_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val total = docs.select(
        sum(expr(s"aggregate(${graft.pipeline.TextHash.wordsSpark("text")}, " +
          "CAST(0 AS BIGINT), (acc, w) -> acc + (length(w) + 3) div 4)")).as("t"))
        .first().getLong(0)
      Corpus.tokenBudgetMixture(docs, total / 2).orderBy("source", "doc_id")
    }),

    // inverted index over the top-df terms (retrieval-side build)
    "q_inverted_index" -> ((s, d) =>
      Corpus.invertedIndex(Tables.documents(s, d), VocabTopN).orderBy("word")),

    // stored-index ingest: merge the 10% batch into the 90%'s full-
    // vocabulary postings relation — only the batch tokenizes, the merge
    // is vocabulary-keyed; must equal the batch build over the union
    "q_inverted_index_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stored = Fixpoint.materializedLeaf(
        Corpus.fullPostings(docs.filter(col("doc_id") % 10 =!= 9)))
      Corpus.incrementalInvertedIndex(stored,
          docs.filter(col("doc_id") % 10 === 9), VocabTopN)
        .orderBy("word")
    }),

    // corpus bigram counts (n-gram LM statistics)
    "q_text_bigrams" -> ((s, d) =>
      Corpus.ngramCounts(Tables.documents(s, d), 2, VocabTopN)),

    // PMI collocations (phrase mining: bigrams that co-occur far above
    // their unigram frequencies)
    "q_text_pmi" -> ((s, d) =>
      Corpus.pmiCollocations(Tables.documents(s, d), PmiMinCount, VocabTopN)),

    // deterministic content-hash train/val/test split
    "q_split_hash" -> ((s, d) =>
      Corpus.hashSplit(Tables.documents(s, d)).orderBy("split")),

    // leak-free split: split membership hashes the near-dup cluster
    // KEEPER's text, so duplicate families never straddle train/test —
    // the eval-contamination guard a per-doc hash split cannot give
    "q_split_leakfree" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.leakFreeSplit(docs, Dedup.minhashDedup(docs, MinhashThreshold))
        .orderBy("doc_id")
    }),

    // deterministic per-language stratified sample
    "q_sample_stratified" -> ((s, d) =>
      Corpus.stratifiedSample(Tables.documents(s, d), "lang", StratPerGroup)
        .orderBy("lang", "rn")),

    // deterministic systematic PPS sample: n stride-midpoint probes on
    // the n_chars weight line — size-proportional selection with zero
    // randomness, built on the two-phase distributed prefix sum
    "q_sample_weighted" -> ((s, d) =>
      Corpus.systematicSample(Tables.documents(s, d), PpsSampleN)
        .orderBy("sample_idx")),

    // priority sampling (Duffield et al.): per-source top-k by w/u with a
    // content-hash uniform — the deterministic weighted sampler whose
    // subset-sum estimator is near-optimal; complements the uniform
    // stratified draw and the global systematic PPS probe
    "q_sample_priority" -> ((s, d) =>
      Corpus.prioritySample(Tables.documents(s, d), PrioritySampleK)
        .orderBy("source", "rn")),

    // linear quality-model gate: fasttext-classifier shape over the exact
    // hash-projection features, deterministic stand-in weights, exact
    // int64 dot — the model-based filter after the heuristic screen
    "q_quality_model" -> ((s, d) =>
      TextAnalysis.scoreLinear(Tables.documents(s, d))
        .orderBy("doc_id")),

    // BPE merge training (Sennrich et al.): the learned merge table in
    // rank order — tokenizer construction as a corpus operator. After
    // the one word-count pass, every round works on the vocabulary
    // position table; corpus text never moves again.
    "q_bpe_train" -> ((s, d) =>
      Bpe.train(Tables.documents(s, d))._1.orderBy("rank")),

    // batched BPE training (parallel-BPE approximation): top-B
    // non-conflicting merges per round — ceil(V/B) driver round-trips
    // instead of V sequential argmax jobs, the shape that makes a
    // 32k-merge vocabulary trainable at scale (see Bpe.trainBatched)
    "q_bpe_train_batched" -> ((s, d) =>
      Bpe.trainBatched(Tables.documents(s, d))._1.orderBy("rank")),

    // the subword vocabulary the merge rounds produce: per final token,
    // its position count over the distinct-word table and its
    // frequency-weighted occurrence total
    "q_bpe_vocab" -> ((s, d) =>
      Bpe.subwordVocab(Bpe.train(Tables.documents(s, d))._2).orderBy("tok")),

    // end-to-end curation: fused quality+langid gate (one tokenization
    // pass) + near-dup cluster removal
    "q_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val losers = Dedup.dedupClusters(Dedup.minhashDedup(docs, MinhashThreshold))
        .filter(col("doc_id") =!= col("keeper")).select("doc_id")
      Corpus.qualityLangGate(docs, MinWords, MinUniqRatio)
        .join(losers, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),

    // train/apply tokenizer split: merges learned on the even-doc slice
    // by the BATCHED trainer (the deployment-shaped faces price the
    // engine's best training plan — r12 verdict item 2; the sequential
    // trainer stays as the didactic twin q_bpe_train), applied
    // ROUND-SIMULTANEOUSLY to the odd slice's words — Bpe.encodeBatched
    // is the deployment path (BatchRounds rewrite passes, not one per
    // merge; merge groups collected at k-row scale, broadcast)
    "q_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Bpe.trainBatchedGrouped(docs.filter(col("doc_id") % 2 === 0))._1
        .map(_.map { case (a, b, _) => (a, b) })
      val words = docs.filter(col("doc_id") % 2 === 1)
        .select(explode(expr(wordsSpark("text"))).as("word"))
      Bpe.encodeBatched(words, groups).orderBy("word", "pos")
    }),

    // tokenizer-accurate token counting: per held-out doc, Σ encoded
    // lengths of its words under the trained merges (OOV words cost one
    // token per char) — the budget number q_pack_contexts estimates,
    // computed exactly; encode prices only the DISTINCT vocabulary
    "q_text_tokens_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Bpe.trainBatchedGrouped(docs.filter(col("doc_id") % 2 === 0))._1
        .map(_.map { case (a, b, _) => (a, b) })
      val words = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
      val encLen = Bpe.encodeBatched(words.select("word"), groups)
        .groupBy("word").agg(count(lit(1)).as("n_tok"))
      // vocabulary-sized (Heaps' law: sub-GB at any corpus scale) — the
      // occurrence side never reshuffles for the lookup
      words.join(broadcast(encLen), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("n_tok"), length(col("word")).cast("long")))
            .as("n_bpe_tokens"),
          count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    }),

    // tokenizer fertility / compression per source (the tokenizer-eval
    // diagnostic): over the held-out split, tokens-per-word and
    // chars-per-token under the trained merges — "which feed does this
    // vocabulary serve worst" is the number that decides retraining.
    // Integral sums + two correctly-rounded divisions; the encode chain
    // prices only the distinct vocabulary (the tokens_bpe shape)
    "q_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val groups = Bpe.trainBatchedGrouped(docs.filter(col("doc_id") % 2 === 0))._1
        .map(_.map { case (a, b, _) => (a, b) })
      val words = docs.filter(col("doc_id") % 2 === 1)
        .select(col("source"), explode(expr(wordsSpark("text"))).as("word"))
      val encLen = Bpe.encodeBatched(words.select("word"), groups)
        .groupBy("word").agg(count(lit(1)).as("n_tok"))
      words.join(broadcast(encLen), Seq("word"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(coalesce(col("n_tok"), length(col("word")).cast("long")))
            .as("n_tokens"),
          sum(length(col("word")).cast("long")).as("n_chars"))
        .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
        .orderBy("source")
    }),

    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.metadata(Multimodal.binarize(Tables.documents(s, d)))
        .orderBy("doc_id")),

    "q_multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.binarize(Tables.documents(s, d)))
        .toDF().orderBy("doc_id")),

    // binary->binary resize (1-in-4 byte downsample stub); fp of the
    // resized payload proves byte-exact agreement with the oracle
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.resample(Multimodal.binarize(Tables.documents(s, d)), ResizeFactor)
        .select(col("doc_id"), col("n_bytes_in"), col("n_bytes_out"),
          graft.functions.GraftFunctions.polyHash(decode(col("resized"), "UTF-8")).as("fp"))
        .orderBy("doc_id")),

    // frame sampling over a video-shaped ARRAY<BINARY> column
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.framize(Tables.documents(s, d), FrameChars), FrameEvery)
        .orderBy("doc_id", "frame_idx")),
  )

  // ---- oracle SQL (generated from the same constants) ----

  private val docsCte =
    s"""docs AS MATERIALIZED (SELECT doc_id, ${wordsDuck("text")} AS ws FROM documents)"""

  /** shared CTE chain ending in `cand(doc_a, doc_b)` — the LSH band-join
    * candidate pairs both the Jaccard and containment verifiers consume */
  private val candCtes: String = {
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeyDuck("mh", b)} AS bkey FROM mh")
      .mkString("\nUNION ALL ")
    s"""$docsCte,
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs WHERE len(ws) >= 3),
       |mh AS MATERIALIZED (SELECT doc_id, ${minhashDuck("hs")} AS mh FROM sh),
       |bands AS MATERIALIZED ($bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** shared CTE chain ending in `pairs(doc_a, doc_b, jacc)` — the verified
    * minhash near-duplicate pairs */
  private val minhashPipelineCtes: String =
    s"""$candCtes,
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, jacc FROM (
       |    SELECT doc_a, doc_b, ${jaccardDuck("x.hs", "y.hs")} AS jacc
       |    FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)
       |  WHERE jacc >= $MinhashThreshold)""".stripMargin

  private val minhashSql =
    s"""WITH $minhashPipelineCtes
       |SELECT doc_a, doc_b, jacc FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  /** capped variant: band keys shared by > MinhashMaxBandOcc docs leave
    * candidate generation before the band self-join (the engine's
    * lshCandidates maxBandOcc path, replayed key for key) */
  private val minhashCappedSql = {
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeyDuck("mh", b)} AS bkey FROM mh")
      .mkString("\nUNION ALL ")
    s"""WITH $docsCte,
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs WHERE len(ws) >= 3),
       |mh AS MATERIALIZED (SELECT doc_id, ${minhashDuck("hs")} AS mh FROM sh),
       |bands0 AS MATERIALIZED ($bandSelects),
       |hot AS MATERIALIZED (
       |  SELECT band, bkey FROM bands0 GROUP BY band, bkey
       |  HAVING count(*) > $MinhashMaxBandOcc),
       |bands AS MATERIALIZED (
       |  SELECT b.* FROM bands0 b ANTI JOIN hot h
       |  ON b.band = h.band AND b.bkey = h.bkey),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, jacc FROM (
       |    SELECT doc_a, doc_b, ${jaccardDuck("x.hs", "y.hs")} AS jacc
       |    FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)
       |  WHERE jacc >= $MinhashThreshold)
       |SELECT doc_a, doc_b, jacc FROM pairs ORDER BY doc_a, doc_b""".stripMargin
  }

  private val sourceOverlapSql =
    s"""WITH $minhashPipelineCtes
       |SELECT least(da.source, db.source) AS s1,
       |  greatest(da.source, db.source) AS s2, count(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = doc_a
       |JOIN documents db ON db.doc_id = doc_b
       |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin

  /** KMV overlap replay: distinct per-source gram hashes, the affine
    * K-min sample per source (row_number over hash order), per-pair
    * theta restriction, kept-union/intersection counts, the theta-scaled
    * estimates, and the exact pair arithmetic — all from the same
    * TextHash/KmvSketch constants the engine uses. */
  private val kmvOverlapSql: String = {
    val kk = graft.ops.KmvSketch.K
    val pp = graft.ops.KmvSketch.P
    s"""WITH $docsCte,
       |src AS MATERIALIZED (SELECT doc_id, source FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT s.source, ${shingleHashesDuck("ws")} AS hs
       |  FROM docs JOIN src s USING (doc_id) WHERE len(ws) >= 3),
       |g0 AS (SELECT source, unnest(hs) AS g FROM sh),
       |g AS MATERIALIZED (SELECT DISTINCT source, g FROM g0),
       |hv AS MATERIALIZED (
       |  SELECT DISTINCT source, ${graft.ops.KmvSketch.hashSql("g")} AS h FROM g),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hv),
       |sk AS MATERIALIZED (SELECT source, h FROM rk WHERE rn <= $kk),
       |th AS (
       |  SELECT source,
       |    CASE WHEN count(*) = $kk THEN max(h) ELSE $pp END AS theta
       |  FROM sk GROUP BY source),
       |prs AS MATERIALIZED (
       |  SELECT a.source AS s1, b.source AS s2, least(a.theta, b.theta) AS theta
       |  FROM th a JOIN th b ON a.source < b.source),
       |kept AS (
       |  SELECT p.s1, p.s2, k.h,
       |    max(CASE WHEN k.source = p.s1 THEN 1 ELSE 0 END) AS ina,
       |    max(CASE WHEN k.source = p.s2 THEN 1 ELSE 0 END) AS inb
       |  FROM prs p JOIN sk k
       |    ON (k.source = p.s1 OR k.source = p.s2) AND k.h < p.theta
       |  GROUP BY 1, 2, 3),
       |cnt AS (
       |  SELECT s1, s2, CAST(count(*) AS BIGINT) AS nu,
       |    CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ni
       |  FROM kept GROUP BY 1, 2),
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM g GROUP BY source),
       |iex AS (
       |  SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS ie
       |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT s1, s2, n_union_kept, n_inter_kept, union_est, inter_est,
       |  jaccard_est, union_exact, inter_exact,
       |  (union_est >= 0.5 * union_exact AND union_est <= 2.0 * union_exact)
       |    AS in_band
       |FROM (
       |  SELECT p.s1, p.s2,
       |    coalesce(c.nu, CAST(0 AS BIGINT)) AS n_union_kept,
       |    coalesce(c.ni, CAST(0 AS BIGINT)) AS n_inter_kept,
       |    CASE WHEN p.theta = $pp THEN CAST(coalesce(c.nu, 0) AS DOUBLE)
       |         ELSE CAST(coalesce(c.nu, 0) AS DOUBLE) * $pp / p.theta END
       |      AS union_est,
       |    CASE WHEN p.theta = $pp THEN CAST(coalesce(c.ni, 0) AS DOUBLE)
       |         ELSE CAST(coalesce(c.ni, 0) AS DOUBLE) * $pp / p.theta END
       |      AS inter_est,
       |    CASE WHEN coalesce(c.nu, 0) > 0
       |         THEN CAST(coalesce(c.ni, 0) AS DOUBLE) / c.nu ELSE 0.0 END
       |      AS jaccard_est,
       |    na.nd + nb.nd - coalesce(iex.ie, CAST(0 AS BIGINT)) AS union_exact,
       |    coalesce(iex.ie, CAST(0 AS BIGINT)) AS inter_exact
       |  FROM prs p
       |  LEFT JOIN cnt c ON c.s1 = p.s1 AND c.s2 = p.s2
       |  JOIN nd na ON na.source = p.s1
       |  JOIN nd nb ON nb.source = p.s2
       |  LEFT JOIN iex ON iex.s1 = p.s1 AND iex.s2 = p.s2)
       |ORDER BY s1, s2""".stripMargin
  }

  // binarize() is encode(text) — the payload round-trips UTF-8, so the
  // oracle fingerprints the text directly; n_bytes is the octet length
  private val multimodalDedupSql =
    s"""SELECT ${polyHashDuck("text")} AS fp,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  min(doc_id) AS keeper, count(*) AS n_copies
       |FROM documents
       |GROUP BY 1, 2 ORDER BY keeper""".stripMargin

  private val containmentSql =
    s"""WITH $docsCte,
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs WHERE len(ws) >= 3),
       |posts AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM sh),
       |inter AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS MATERIALIZED (SELECT doc_id, len(hs) AS n FROM sh)
       |SELECT doc_a, doc_b, containment FROM (
       |  SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / least(x.n, y.n) AS containment
       |  FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b)
       |WHERE containment >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** prefixed copy of minhashPipelineCtes over a filtered document set —
    * lets one query host two independent dedup chains (incremental oracle) */
  private def minhashCtesFor(p: String, docsWhere: String): String = {
    val bandSelects = (0 until Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeyDuck("mh", b)} AS bkey FROM ${p}mh")
      .mkString("\nUNION ALL ")
    s"""${p}docs AS MATERIALIZED (SELECT doc_id, ${wordsDuck("text")} AS ws FROM documents WHERE $docsWhere),
       |${p}sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM ${p}docs WHERE len(ws) >= 3),
       |${p}mh AS MATERIALIZED (SELECT doc_id, ${minhashDuck("hs")} AS mh FROM ${p}sh),
       |${p}bands AS MATERIALIZED ($bandSelects),
       |${p}cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${p}bands a JOIN ${p}bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |${p}pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, jacc FROM (
       |    SELECT doc_a, doc_b, ${jaccardDuck("x.hs", "y.hs")} AS jacc
       |    FROM ${p}cand JOIN ${p}sh x ON x.doc_id = doc_a JOIN ${p}sh y ON y.doc_id = doc_b)
       |  WHERE jacc >= $MinhashThreshold)""".stripMargin
  }

  /** prefixed unrolled min-label CC over `<p>pairs`, ending in `<p>l<iters>` */
  private def ccCtesFor(p: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}und AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM ${p}pairs
      |  UNION SELECT doc_b AS src, doc_a AS dst FROM ${p}pairs),
      |${p}l0 AS MATERIALIZED (
      |  SELECT vertex, vertex AS label FROM (
      |    SELECT src AS vertex FROM ${p}und UNION SELECT dst FROM ${p}und))""".stripMargin
    for (i <- 1 to iters) {
      val q = i - 1
      sb ++= s""",
        |${p}l$i AS MATERIALIZED (SELECT vertex, min(label) AS label FROM (
        |  SELECT vertex, label FROM ${p}l$q
        |  UNION ALL SELECT u.dst AS vertex, l.label FROM ${p}l$q l JOIN ${p}und u ON u.src = l.vertex)
        |GROUP BY vertex)""".stripMargin
    }
    sb.toString
  }

  /** incremental dedup == dedup of (dedup(evens) ∪ odds): chain a dedups
    * the even half; chain b dedups the survivors-plus-odds union. The
    * engine takes the incremental path (at-least-one-new candidates); the
    * SQL takes the batch path — the operator's contract is that they agree. */
  private val incrementalSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    def inD2(c: String) =
      s"$c NOT IN (SELECT vertex FROM a_l$iters WHERE vertex <> label)"
    s"""WITH ${minhashCtesFor("a_", "doc_id % 2 = 0")},
       |${ccCtesFor("a_", iters)},
       |${minhashCtesFor("b_", inD2("doc_id"))},
       |${ccCtesFor("b_", iters)}
       |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
       |WHERE ${inD2("d.doc_id")}
       |  AND d.doc_id NOT IN (SELECT vertex FROM b_l$iters WHERE vertex <> label)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** unrolled min-label propagation over the undirected pair graph —
    * integer mins are exact. Unrolls exactly Graphs.DefaultCcRounds, the
    * same bound the engine iterates under (early convergence reaches the
    * identical fixpoint), so engine and oracle agree on ANY input, even a
    * pathological chain that has not converged at the bound. */
  private val clustersSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    val sb = new StringBuilder
    sb ++= s"""WITH $minhashPipelineCtes,
      |und AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
      |l0 AS MATERIALIZED (
      |  SELECT vertex, vertex AS label FROM (
      |    SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
        |l$i AS MATERIALIZED (SELECT vertex, min(label) AS label FROM (
        |  SELECT vertex, label FROM l$p
        |  UNION ALL SELECT u.dst AS vertex, l.label FROM l$p l JOIN und u ON u.src = l.vertex)
        |GROUP BY vertex)""".stripMargin
    }
    sb ++= s"""
      |SELECT vertex AS doc_id, label AS keeper FROM l$iters ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** clustersSql's CTE chain with the final select swapped: keep every
    * document that is not a cluster loser */
  private val dedupFinalSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    clustersSql.substring(0, clustersSql.lastIndexOf("SELECT vertex AS doc_id")) +
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT vertex FROM l$iters WHERE vertex <> label)
         |ORDER BY d.doc_id""".stripMargin
  }

  /** clustersSql's CC chain + a priority-keyed argmin per cluster */
  private val prioritySql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    clustersSql.substring(0, clustersSql.lastIndexOf("SELECT vertex AS doc_id")) +
      s""",
         |memb AS MATERIALIZED (
         |  SELECT l.label AS cluster, l.vertex AS doc_id,
         |         CAST(substring(d.source, 4) AS BIGINT) * 100000000 + l.vertex AS okey
         |  FROM l$iters l JOIN documents d ON d.doc_id = l.vertex)
         |SELECT cluster, arg_min(doc_id, okey) AS canonical, count(*) AS n_members
         |FROM memb GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  private val decontamSql =
    s"""WITH $docsCte,
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs WHERE len(ws) >= 3),
       |g AS MATERIALIZED (SELECT doc_id, unnest(hs) AS g FROM sh),
       |ev AS MATERIALIZED (SELECT DISTINCT g FROM g WHERE doc_id % $EvalMod = 0)
       |SELECT doc_id, count(*) AS n_shared
       |FROM g JOIN ev USING (g)
       |WHERE doc_id % $EvalMod <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** soft contamination score: every train doc with its distinct-gram
    * count, shared-gram count vs the eval slice, and overlap fraction */
  private val decontamOverlapSql =
    s"""WITH $docsCte,
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs),
       |g AS MATERIALIZED (SELECT doc_id, unnest(hs) AS g FROM sh),
       |ev AS MATERIALIZED (SELECT DISTINCT g FROM g WHERE doc_id % $EvalMod = 0),
       |shared AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM g JOIN ev USING (g)
       |  WHERE doc_id % $EvalMod <> 0
       |  GROUP BY doc_id)
       |SELECT sh.doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
       |       coalesce(shared.n_shared, CAST(0 AS BIGINT)) AS n_shared,
       |       CASE WHEN len(hs) = 0 THEN 0.0
       |            ELSE round(CAST(coalesce(shared.n_shared, 0) AS DOUBLE) / len(hs), 6)
       |       END AS overlap_frac
       |FROM sh LEFT JOIN shared USING (doc_id)
       |WHERE sh.doc_id % $EvalMod <> 0
       |ORDER BY sh.doc_id""".stripMargin

  /** novelty replay: distinct (gram, doc) pairs, min-carrier per gram,
    * per-doc first-carrier fraction; gram-less docs carry zeros.
    * `where` restricts the OUTPUT docs (the incremental twin's batch
    * slice) — novelty itself is always computed over the full corpus,
    * which is exactly the incremental contract. */
  private def noveltySqlWhere(where: String) =
    // literal docs selector: plainDocsSql is declared below this val, so
    // referencing it here would interpolate null at object init
    gramCtes(NoveltyK, "SELECT doc_id, text FROM documents") +
      s""",
         |dg AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM g),
         |f AS MATERIALIZED (SELECT h, min(doc_id) AS first_doc FROM dg GROUP BY h),
         |sc AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(count(*) FILTER (first_doc = doc_id) AS BIGINT) AS n_novel
         |  FROM dg JOIN f USING (h) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(sc.n_grams, CAST(0 AS BIGINT)) AS n_grams,
         |       coalesce(sc.n_novel, CAST(0 AS BIGINT)) AS n_novel,
         |       CASE WHEN sc.n_grams IS NULL THEN 0.0
         |            ELSE round(CAST(sc.n_novel AS DOUBLE) / sc.n_grams, 6)
         |       END AS novelty_frac
         |FROM d LEFT JOIN sc USING (doc_id) $where ORDER BY d.doc_id""".stripMargin
  private val noveltySql = noveltySqlWhere("")
  private val noveltyIncSql = noveltySqlWhere("WHERE d.doc_id % 2 = 1")

  /** importance replay: distinct (gram, doc) pairs over ALL docs, split
    * into target/raw carrier counts by source, per-raw-doc mass sums,
    * one IEEE division. Sums CAST to BIGINT (DuckDB widens to HUGEINT). */
  /** shared CTE body of the importance family (gram relation + split
    * carrier counts + per-doc mass sums), ending at `sc` */
  private val importanceTgt = TargetSources.map(s => s"'$s'").mkString(", ")
  private val importanceCtes =
    gramCtes(ImportanceK, "SELECT doc_id, text FROM documents") +
      s""",
         |dg AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM g),
         |src AS MATERIALIZED (SELECT doc_id, source FROM documents),
         |tdf AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS t_df
         |  FROM dg JOIN src USING (doc_id) WHERE source IN ($importanceTgt) GROUP BY h),
         |rdg AS MATERIALIZED (
         |  SELECT dg.doc_id, dg.h FROM dg JOIN src USING (doc_id)
         |  WHERE source NOT IN ($importanceTgt)),
         |rdf AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS r_df FROM rdg GROUP BY h),
         |sc AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(sum(coalesce(t_df, 0)) AS BIGINT) AS t_mass,
         |         CAST(sum(r_df) AS BIGINT) AS r_mass
         |  FROM rdg JOIN rdf USING (h) LEFT JOIN tdf USING (h)
         |  GROUP BY doc_id)""".stripMargin

  private def importanceSqlWhere(where: String) = {
    val tgt = importanceTgt
    importanceCtes +
      s"""
         |SELECT src.doc_id, coalesce(sc.n_grams, CAST(0 AS BIGINT)) AS n_grams,
         |       coalesce(sc.t_mass, CAST(0 AS BIGINT)) AS t_mass,
         |       coalesce(sc.r_mass, CAST(0 AS BIGINT)) AS r_mass,
         |       CASE WHEN sc.n_grams IS NULL THEN 0.0
         |            ELSE round(CAST(sc.t_mass AS DOUBLE) / sc.r_mass, 6)
         |       END AS affinity
         |FROM src LEFT JOIN sc USING (doc_id)
         |WHERE src.source NOT IN ($tgt) $where
         |ORDER BY src.doc_id""".stripMargin
  }
  private val importanceSql = importanceSqlWhere("")
  /** the incremental twin's contract: importance over the UNION, output
    * restricted to the odd-id batch (r_df over stored ∪ batch is exact —
    * disjoint doc sets sum) */
  private val importanceIncSql = importanceSqlWhere("AND src.doc_id % 2 = 1")

  /** selection-stage composition replay: the importance CTEs + the
    * quality-model featurizer fold (qualityModelSql's CTEs, q-prefixed)
    * + the per-source affinity-ranked cut */
  private val selectTrainingSql = {
    val dim = 16
    importanceCtes +
      s""",
         |qh AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_transform(${wordsDuck("text")}, w -> ${polyHashDuck("w")} % 100003) AS hs
         |  FROM documents),
         |qv AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_transform(range(0, $dim), dd ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(hs, x -> (x * (131 * (dd + 1)) + 137 * dd) % 29 - 14)),
         |        (acc, vv) -> acc + vv)) AS v
         |  FROM qh),
         |qs AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, $dim), dd -> v[CAST(dd + 1 AS INT)] * ((37 * (dd + 1)) % 19 - 9))),
         |      (acc, x) -> acc + x) AS BIGINT) AS score
         |  FROM qv),
         |imp AS MATERIALIZED (
         |  SELECT src.doc_id,
         |    CASE WHEN sc.n_grams IS NULL THEN 0.0
         |         ELSE round(CAST(sc.t_mass AS DOUBLE) / sc.r_mass, 6)
         |    END AS affinity
         |  FROM src LEFT JOIN sc USING (doc_id)
         |  WHERE src.source NOT IN ($importanceTgt)),
         |sel AS MATERIALIZED (
         |  SELECT s2.source, imp.doc_id, imp.affinity, qs.score,
         |    CAST(row_number() OVER (PARTITION BY s2.source
         |      ORDER BY imp.affinity DESC, imp.doc_id) AS BIGINT) AS rn
         |  FROM imp JOIN qs USING (doc_id) JOIN src s2 USING (doc_id)
         |  WHERE qs.score >= 0)
         |SELECT source, rn, doc_id, affinity, score FROM sel
         |WHERE rn <= $SelectPerSource ORDER BY source, rn""".stripMargin
  }

  /** family histogram: the clusters chain aggregated twice (label → family
    * size → families per size) */
  private val familyHistSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    clustersSql.substring(0, clustersSql.lastIndexOf("SELECT vertex AS doc_id")) +
      s"""SELECT family_size, CAST(count(*) AS BIGINT) AS n_families FROM (
         |  SELECT label, CAST(count(*) AS BIGINT) AS family_size
         |  FROM l$iters GROUP BY label)
         |GROUP BY family_size ORDER BY family_size""".stripMargin
  }

  private val repetitionSql =
    s"""WITH d AS MATERIALIZED (SELECT doc_id, ${wordsDuck("text")} AS ws FROM documents),
       |g AS MATERIALIZED (SELECT doc_id,
       |  list_transform(range(1, len(ws)), i -> concat_ws(' ', ws[i], ws[i+1])) AS gs FROM d),
       |m AS MATERIALIZED (SELECT doc_id,
       |  CAST(len(gs) AS BIGINT) AS n_grams,
       |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_uniq_grams,
       |  CAST(coalesce(list_max(list_transform(list_distinct(gs),
       |    x -> len(list_filter(gs, h -> h = x)))), 0) AS BIGINT) AS top_gram_n
       |FROM g)
       |SELECT doc_id, n_grams, n_uniq_grams, top_gram_n,
       |  CASE WHEN n_grams > 0 THEN CAST(top_gram_n AS DOUBLE) / n_grams ELSE 0.0 END AS top_gram_frac,
       |  CASE WHEN n_grams > 0 THEN CAST(n_grams - n_uniq_grams AS DOUBLE) / n_grams ELSE 0.0 END AS dup_gram_frac
       |FROM m ORDER BY doc_id""".stripMargin

  /** BM25 with rational idf — constants interpolated from the SAME Scala
    * doubles the engine multiplies by, so both sides parse bit-identical
    * literals (Corpus.bm25 documents the no-log policy) */
  private val bm25Sql = {
    val k1 = Corpus.Bm25K1
    val k1p1 = Corpus.Bm25K1 + 1
    val oneMinusB = 1 - Corpus.Bm25B
    val b = Corpus.Bm25B
    s"""WITH w AS MATERIALIZED (SELECT doc_id, unnest(${wordsDuck("text")}) AS word FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
       |df AS MATERIALIZED (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |dl AS MATERIALIZED (SELECT doc_id, CAST(len(${wordsDuck("text")}) AS BIGINT) AS dl FROM documents),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |s AS MATERIALIZED (
       |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
       |    round((((SELECT n_docs FROM n) - df.df + 0.5) / (df.df + 0.5))
       |      * (tf.tf * $k1p1)
       |      / (tf.tf + $k1 * ($oneMinusB + $b * dl.dl / (SELECT avgdl FROM ad))), 6) AS score
       |  FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id)
       |SELECT doc_id, rn, word, tf, df, score FROM (
       |  SELECT doc_id, word, tf, df, score,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rn
       |  FROM s)
       |WHERE rn <= $TfidfTopK ORDER BY doc_id, rn""".stripMargin
  }

  private val sourceSignatureSql =
    s"""WITH w AS MATERIALIZED (
       |  SELECT source, unnest(${wordsDuck("text")}) AS word FROM documents),
       |tf AS MATERIALIZED (SELECT source, word, count(*) AS tf FROM w GROUP BY source, word),
       |sfq AS MATERIALIZED (SELECT word, count(*) AS nsrc FROM tf GROUP BY word),
       |n AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_sources FROM documents),
       |s AS MATERIALIZED (
       |  SELECT tf.source, tf.word, tf.tf, sfq.nsrc,
       |         tf.tf * (SELECT n_sources FROM n) / sfq.nsrc AS score
       |  FROM tf JOIN sfq USING (word))
       |SELECT source, rn, word, tf, nsrc, score FROM (
       |  SELECT source, word, tf, nsrc, score,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, word) AS BIGINT) AS rn
       |  FROM s)
       |WHERE rn <= $TfidfTopK ORDER BY source, rn""".stripMargin

  /** sqrt weights normalized by a SEQUENTIAL source-ordered fold (a plain
    * sum(double) is partition/order dependent; the engine folds the same
    * way — Corpus.mixtureWeights). Shared by the weights and sample SQL. */
  private val mixtureCtes =
    """c AS MATERIALIZED (
      |  SELECT source, count(*) AS n_docs, sqrt(CAST(count(*) AS DOUBLE)) AS w
      |  FROM documents GROUP BY source),
      |z AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list(w ORDER BY source)), (acc, x) -> acc + x) AS z,
      |      CAST(sum(n_docs) AS BIGINT) AS total FROM c)""".stripMargin

  private val targetNDuck =
    "CAST(floor(round(w / (SELECT z FROM z), 6) * (SELECT total FROM z)) AS BIGINT)"

  private val mixtureSql =
    s"""WITH $mixtureCtes
       |SELECT source, n_docs,
       |  round(w / (SELECT z FROM z), 6) AS weight,
       |  $targetNDuck AS target_n
       |FROM c ORDER BY source""".stripMargin

  /** mixtureSql's weight CTEs feeding a per-source windowed take */
  private val mixtureSampleSql =
    s"""WITH $mixtureCtes,
       |t AS MATERIALIZED (
       |  SELECT source, $targetNDuck AS target_n
       |  FROM c),
       |hh AS MATERIALIZED (
       |  SELECT source, doc_id, ${polyHashDuck("text")} AS h FROM documents)
       |SELECT source, rn, doc_id, h FROM (
       |  SELECT hh.source, doc_id, hh.h, t.target_n,
       |    CAST(row_number() OVER (PARTITION BY hh.source ORDER BY hh.h, doc_id) AS BIGINT) AS rn
       |  FROM hh JOIN t USING (source))
       |WHERE rn <= target_n ORDER BY source, rn""".stripMargin

  /** token-budget mixture: same weight CTEs; quotas are floor(weight ·
    * budget) tokens with budget = half the corpus's exact BPE-ish token
    * total; the per-source prefix cut is an int64 running sum over the
    * total (hash, doc_id) order — identical arithmetic to
    * Corpus.tokenBudgetMixture */
  private val mixtureBudgetSql = {
    val bpe = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(${wordsDuck("text")}, w -> CAST((length(w) + 3) // 4 AS BIGINT))), (acc, x) -> acc + x)"
    s"""WITH $mixtureCtes,
       |tok AS MATERIALIZED (
       |  SELECT source, doc_id, ${polyHashDuck("text")} AS h, $bpe AS n_tokens
       |  FROM documents),
       |b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM tok),
       |q AS MATERIALIZED (
       |  SELECT source,
       |    CAST(floor(round(w / (SELECT z FROM z), 6) * (SELECT budget FROM b)) AS BIGINT) AS quota
       |  FROM c),
       |r AS MATERIALIZED (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
       |  FROM tok)
       |SELECT r.source, doc_id, n_tokens, cum_tokens
       |FROM r JOIN q USING (source) WHERE cum_tokens <= quota
       |ORDER BY source, doc_id""".stripMargin
  }

  private val invertedIndexSql =
    s"""WITH p AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, unnest(${wordsDuck("text")}) AS word FROM documents),
       |top AS MATERIALIZED (
       |  SELECT word, count(*) AS df FROM p GROUP BY word
       |  ORDER BY df DESC, word LIMIT $VocabTopN)
       |SELECT t.word, t.df,
       |  array_to_string(list(p.doc_id ORDER BY p.doc_id), ',') AS postings
       |FROM p JOIN top t USING (word)
       |GROUP BY t.word, t.df ORDER BY t.word""".stripMargin

  private val simhashSql = {
    // radius-derived band count — must replay Dedup.simhashDedup's decision
    val nBands = simBandsFor(SimhashMaxHamming)
    val bandSelects = (0 until nBands).map(b =>
      s"SELECT doc_id, sim, $b AS band, ${simBandDuck("sim", b, nBands)} AS bkey FROM sg")
      .mkString("\nUNION ALL ")
    s"""WITH $docsCte,
       |wh AS MATERIALIZED (SELECT doc_id, ${wordHashesDuck("ws")} AS wh FROM docs),
       |sg AS MATERIALIZED (SELECT doc_id, ${simhashDuck("wh")} AS sim FROM wh),
       |bands AS MATERIALIZED ($bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming FROM cand)
       |WHERE hamming <= $SimhashMaxHamming ORDER BY doc_a, doc_b""".stripMargin
  }

  private val ngramSql =
    s"""WITH docs AS MATERIALIZED (
       |  SELECT doc_id, ${wordsDuck("text")} AS ws FROM documents WHERE doc_id % $NgramSampleMod = 0),
       |sh AS MATERIALIZED (SELECT doc_id, ${shingleHashesDuck("ws")} AS hs FROM docs WHERE len(ws) >= 3)
       |SELECT doc_a, doc_b, jacc FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${jaccardDuck("a.hs", "b.hs")} AS jacc
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |WHERE jacc >= $NgramThreshold ORDER BY doc_a, doc_b""".stripMargin

  /** Winnowing replay: same word poly-hashes, same single-fold gram keys,
    * same packed-key (hash, rightmost-pos) window minima, same shared-count
    * threshold — integer arithmetic end to end. */
  private def winnowSqlWith(sel: String, restrict: String): String =
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, ${wordPolyHashesDuck(wordsDuck("text"))} AS wh1 FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, ${winnowGramsDuck("wh1", WinnowK)} AS gs FROM w),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id, unnest(${winnowSelectDuck("gs", WinnowW)}) AS fp FROM g),
       |s AS MATERIALIZED ($sel)
       |SELECT doc_a, doc_b, shared FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |WHERE shared >= $WinnowMinShared$restrict ORDER BY doc_a, doc_b""".stripMargin

  private val winnowSql = winnowSqlWith("SELECT * FROM s0", "")

  /** capped twin: prints with df > maxDf leave the join (engine cap and
    * this NOT-IN agree; fp is distinct per doc so count(*) IS the df) */
  private val winnowCappedSql = winnowSqlWith(
    s"SELECT * FROM s0 WHERE fp NOT IN (SELECT fp FROM s0 GROUP BY fp HAVING count(*) > $WinnowMaxDf)",
    "")

  /** incremental twin: the batch run over the union restricted to pairs
    * touching at least one incoming (odd-id) doc — winnow selection is
    * doc-local, so the restriction IS the incremental contract */
  private val winnowIncSql = winnowSqlWith("SELECT * FROM s0",
    " AND (doc_a % 2 = 1 OR doc_b % 2 = 1)")

  /** simTopkSql's scan with the semi-hard band cut on the rounded score —
    * the literals are spelled as DOUBLE casts so both engines compare the
    * same IEEE values. */
  private val simHardNegSql =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv, ${normDuck("embedding")} AS nq
       |  FROM embeddings WHERE vec_id < $NumQueryVecs),
       |c AS MATERIALIZED (
       |  SELECT vec_id AS nid, embedding AS nv, ${normDuck("embedding")} AS nn FROM embeddings),
       |p AS (
       |  SELECT qid, nid, round(${dotDuck("qv", "nv")} / (nq * nn), 6) AS score
       |  FROM q, c WHERE nid <> qid),
       |b AS (SELECT * FROM p
       |  WHERE score < CAST($HardNegCeil AS DOUBLE) AND score >= CAST($HardNegFloor AS DOUBLE))
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |  FROM b)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin

  /** Adaptive-band near-dup twin: full-width band keys (ndKeyDuck, coef2
    * family) masked to the corpus-size-adaptive width — the same integer
    * NdMaskLadder the engine evaluates in-plan, here as a CASE over a
    * count(*) scalar, so both engines derive the identical bucket set. */
  private def embDedupSqlWhere(extra: String) = {
    val bucketSelects = (0 until Similarity.NdBands).map(b =>
      s"SELECT vec_id, $b AS band, ${ndKeyDuck("embedding", b)} AS fkey FROM embeddings")
      .mkString("\nUNION ALL ")
    s"""WITH msk AS MATERIALIZED (
       |  SELECT ${Similarity.ndMaskSql("(SELECT count(*) FROM embeddings)")} AS mask),
       |fullkeys AS MATERIALIZED ($bucketSelects),
       |buckets AS MATERIALIZED (
       |  SELECT vec_id, band, fkey & (SELECT mask FROM msk) AS bkey FROM fullkeys),
       |cand AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |vecs AS MATERIALIZED (SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings)
       |SELECT id_a, id_b, score FROM (
       |  SELECT id_a, id_b, round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand JOIN vecs x ON x.vec_id = id_a JOIN vecs y ON y.vec_id = id_b)
       |WHERE score >= $EmbThreshold$extra ORDER BY id_a, id_b""".stripMargin
  }
  private val embDedupSql = embDedupSqlWhere("")
  /** the incremental contract, literally: the union pipeline's pairs
    * restricted to at-least-one-incoming (odd) vector */
  private val embDedupIncSql =
    embDedupSqlWhere(" AND (id_a % 2 = 1 OR id_b % 2 = 1)")
  /** steady-state stored-index ingest: incoming = the 10% batch; the mask
    * still derives from the full (union) count, which embDedupSqlWhere's
    * msk CTE already is */
  private val embDedupIdxSql =
    embDedupSqlWhere(" AND (id_a % 10 = 9 OR id_b % 10 = 9)")

  /** Screen oracle: the engine's first-collision-band trick is an
    * exact-once IMPLEMENTATION of "∃ a shared bucket", so the oracle
    * states the semantics directly — DISTINCT (odd, even) pairs sharing
    * any band bucket at the EVEN-corpus mask width, cosine-verified. */
  private val embScreenSql = {
    val bucketSelects = (0 until Similarity.NdBands).map(b =>
      s"SELECT vec_id, $b AS band, ${ndKeyDuck("embedding", b)} AS fkey FROM embeddings")
      .mkString("\nUNION ALL ")
    s"""WITH msk AS MATERIALIZED (
       |  SELECT ${Similarity.ndMaskSql("(SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)")} AS mask),
       |fullkeys AS MATERIALIZED ($bucketSelects),
       |buckets AS MATERIALIZED (
       |  SELECT vec_id, band, fkey & (SELECT mask FROM msk) AS bkey FROM fullkeys),
       |cand AS MATERIALIZED (
       |  SELECT i.vec_id AS in_id, x.vec_id AS idx_id
       |  FROM buckets i JOIN buckets x ON i.band = x.band AND i.bkey = x.bkey
       |  WHERE i.vec_id % 2 = 1 AND x.vec_id % 2 = 0
       |  GROUP BY 1, 2),
       |vecs AS MATERIALIZED (SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings)
       |SELECT in_id, idx_id, score FROM (
       |  SELECT in_id, idx_id, round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand JOIN vecs x ON x.vec_id = in_id JOIN vecs y ON y.vec_id = idx_id)
       |WHERE score >= $EmbThreshold ORDER BY in_id, idx_id""".stripMargin
  }

  private val simTopkSql =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv, ${normDuck("embedding")} AS nq
       |  FROM embeddings WHERE vec_id < $NumQueryVecs),
       |c AS MATERIALIZED (
       |  SELECT vec_id AS nid, embedding AS nv, ${normDuck("embedding")} AS nn FROM embeddings),
       |p AS (
       |  SELECT qid, nid, round(${dotDuck("qv", "nv")} / (nq * nn), 6) AS score
       |  FROM q, c WHERE nid <> qid)
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |  FROM p)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin

  /** banded-LSH candidate generation (embDedupSql's bucket CTEs) feeding
    * simTopkSql's exact rerank — query side restricted like simTopkSql */
  private val simLshSql = {
    val bucketSelects = (0 until HpBands).map(b =>
      s"SELECT vec_id, $b AS band, ${bucketKeyDuck("embedding", b)} AS bkey FROM embeddings")
      .mkString("\nUNION ALL ")
    s"""WITH buckets AS MATERIALIZED ($bucketSelects),
       |cand AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid
       |  FROM buckets q JOIN buckets c
       |    ON q.band = c.band AND q.bkey = c.bkey AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NumQueryVecs
       |  GROUP BY 1, 2),
       |vecs AS MATERIALIZED (SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings),
       |p AS (
       |  SELECT qid, nid, round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand JOIN vecs x ON x.vec_id = qid JOIN vecs y ON y.vec_id = nid)
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM p)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin
  }

  /** simLshSql with the query side fanned out to base + 1-bit-flip probes */
  private val simLshMpSql = {
    val bucketSelects = (0 until HpBands).map(b =>
      s"SELECT vec_id, $b AS band, ${bucketKeyDuck("embedding", b)} AS bkey FROM embeddings")
      .mkString("\nUNION ALL ")
    val probeSelects = ("SELECT vec_id, band, bkey FROM qb" +:
      (0 until HpBandBits).map(r =>
        s"SELECT vec_id, band, xor(bkey, ${1 << r}) AS bkey FROM qb"))
      .mkString("\nUNION ALL ")
    s"""WITH buckets AS MATERIALIZED ($bucketSelects),
       |qb AS MATERIALIZED (SELECT * FROM buckets WHERE vec_id < $NumQueryVecs),
       |probes AS MATERIALIZED ($probeSelects),
       |cand AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid
       |  FROM probes q JOIN buckets c
       |    ON q.band = c.band AND q.bkey = c.bkey AND q.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |vecs AS MATERIALIZED (SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings),
       |p AS (
       |  SELECT qid, nid, round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand JOIN vecs x ON x.vec_id = qid JOIN vecs y ON y.vec_id = nid)
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM p)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin
  }

  /** sequential-fold squared distance between a FLOAT[] column and a
    * DOUBLE[] centroid — the DuckDB twin of VecKMeans.sqDist (same add
    * order, same promotion, d*d spelled as multiplication not pow) */
  private def sqdistDuck(v: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($v) + 1), i -> (CAST($v[i] AS DOUBLE) - $c[i]) * (CAST($v[i] AS DOUBLE) - $c[i]))), (acc, x) -> acc + x)"

  /** Shared unrolled quantized-Lloyd TRAINING block: `e`, `dims`,
    * `c0`..`c$iters` — the replay of VecKMeans.train (deterministic
    * lowest-vec_id seeding, int64-quantized updates, strict-< argmin
    * tie-break). Training is replayable in SQL because the engine's
    * update step uses QUANTIZED exact int64 sums (VecKMeans.QuantScale):
    * round(v * 2^20) is identical arithmetic in both engines, integer
    * sums are order-free, and the mean is one IEEE division. Callers
    * append their own assignment/probe CTEs over `c$iters`. */
  private def ivfTrainCte(k: Int, iters: Int): String = {
    val qsum = "CAST(sum(CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT)"
    def iter(t: Int) =
      s"""a$t AS MATERIALIZED (
         |  SELECT vec_id, embedding, cluster FROM (
         |    SELECT e.vec_id, e.embedding, c.cluster,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
         |    FROM e, c${t - 1} c) WHERE rn = 1),
         |s$t AS MATERIALIZED (
         |  SELECT cluster, d.i AS i, $qsum AS s, count(*) AS n
         |  FROM a$t, dims d GROUP BY cluster, d.i),
         |c$t AS MATERIALIZED (
         |  SELECT cluster, list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) ORDER BY i) AS cv
         |  FROM s$t GROUP BY cluster
         |  UNION ALL
         |  SELECT p.cluster, p.cv FROM c${t - 1} p
         |  WHERE p.cluster NOT IN (SELECT cluster FROM s$t))""".stripMargin
    s"""e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |dims AS MATERIALIZED (
       |  SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(rn AS INT) - 1 AS cluster,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM (SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings)
       |  WHERE rn <= $k),
       |${(1 to iters).map(iter).mkString(",\n")}""".stripMargin
  }

  /** [[ivfTrainCte]] plus the final assignment, ending in
    * `clusters(vec_id, cluster)` — the shared replay of VecKMeans.train +
    * assign used by the semantic-dedup pipeline. */
  private def lloydClustersCte(k: Int, iters: Int): String =
    s"""${ivfTrainCte(k, iters)},
       |clusters AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
       |    FROM e, c$iters c) WHERE rn = 1)""".stripMargin

  /** The semantic-dedup pair pipeline: Lloyd clusters + adaptive-mask
    * banded candidates restricted to same-cluster + exact cosine verify
    * (the embDedupSql bucket pattern with the cluster conjunction). */
  private def semanticPairsCte: String = {
    val bucketSelects = (0 until Similarity.NdBands).map(b =>
      s"SELECT vec_id, $b AS band, ${ndKeyDuck("embedding", b)} AS fkey FROM embeddings")
      .mkString("\nUNION ALL ")
    s"""${lloydClustersCte(SemK, SemIters)},
       |msk AS MATERIALIZED (
       |  SELECT ${Similarity.ndMaskSql("(SELECT count(*) FROM embeddings)")} AS mask),
       |fullkeys AS MATERIALIZED ($bucketSelects),
       |buckets AS MATERIALIZED (
       |  SELECT f.vec_id, f.band, f.fkey & (SELECT mask FROM msk) AS bkey, cl.cluster
       |  FROM fullkeys f JOIN clusters cl ON cl.vec_id = f.vec_id),
       |cand AS MATERIALIZED (
       |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.cluster = b.cluster
       |  WHERE a.vec_id < b.vec_id GROUP BY 1, 2, 3),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT cluster, id_a, id_b,
       |    round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand JOIN vecs x ON x.vec_id = id_a JOIN vecs y ON y.vec_id = id_b)""".stripMargin
  }

  private val dedupSemanticSql =
    s"""WITH $semanticPairsCte
       |SELECT cl.vec_id, cl.cluster FROM clusters cl
       |WHERE cl.vec_id NOT IN (SELECT id_b FROM pairs WHERE score >= $EmbThreshold)
       |ORDER BY cl.vec_id""".stripMargin

  private val dedupSemanticPairsSql =
    s"""WITH $semanticPairsCte
       |SELECT cluster, id_a, id_b, score FROM pairs
       |WHERE score >= $EmbThreshold
       |ORDER BY cluster, id_a, id_b""".stripMargin

  /** cluster-quota sample replay: the shared Lloyd clusters CTE + the
    * priorityKey hash-order window cut (same packed-int64 formula as the
    * engine — hash high bits, id low bits, so ORDER BY the key alone is
    * total) */
  private val sampleClusterSql =
    s"""WITH ${lloydClustersCte(SemK, SemIters)}
       |SELECT cluster, rn, vec_id FROM (
       |  SELECT cluster, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY vec_id % 2147483647 * 2654435761 % 2147483647
       |        * 4294967296 + vec_id) AS BIGINT) AS rn
       |  FROM clusters)
       |WHERE rn <= $ClusterQuota
       |ORDER BY cluster, rn""".stripMargin

  /** Unrolled Lloyd training + IVF search — the full q_sim_ivf replay.
    * Training is replayable in SQL because the engine's update step uses
    * QUANTIZED exact int64 sums (VecKMeans.QuantScale): round(v * 2^20)
    * is identical arithmetic in both engines, integer sums are
    * order-free, and the mean is one IEEE division. Assignment argmin and
    * probe ranking tie-break on cluster index exactly like the engine's
    * strict-< scan / stable sort. 3 iterations, k=8, nprobe=3 — the same
    * constants as the query. */
  /** shared IVF train+search CTE chain ending in `p(qid, nid, score)` —
    * simIvfSql selects the ranked cut; simRecallSql joins it against the
    * brute-force truth */
  private val ivfSearchCtes = {
    s"""${ivfTrainCte(8, 3)},
       |asg AS MATERIALIZED (
       |  SELECT vec_id AS nid, embedding AS nv, cluster, ${normDuck("embedding")} AS nn FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
       |    FROM e, c3 c) WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT qid, cluster FROM (
       |    SELECT e.vec_id AS qid, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
       |    FROM e, c3 c WHERE e.vec_id < $NumQueryVecs) WHERE rn <= 3),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv, ${normDuck("embedding")} AS nq
       |  FROM embeddings WHERE vec_id < $NumQueryVecs),
       |p AS (
       |  SELECT q.qid, a.nid, round(${dotDuck("q.qv", "a.nv")} / (q.nq * a.nn), 6) AS score
       |  FROM probes pr JOIN q ON q.qid = pr.qid JOIN asg a ON a.cluster = pr.cluster
       |  WHERE a.nid <> q.qid)""".stripMargin
  }

  private val simIvfSql =
    s"""WITH $ivfSearchCtes
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM p)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin

  /** recall@k audit: per query, how many of the brute-force true top-k
    * the IVF search recovered — exact integer counts (k_true, n_hits),
    * both CTE chains replayed from their own oracle-verified forms */
  private val simRecallSql =
    s"""WITH $ivfSearchCtes,
       |ivf_top AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |    FROM p) WHERE rn <= $TopK),
       |bc AS MATERIALIZED (
       |  SELECT vec_id AS nid, embedding AS nv, ${normDuck("embedding")} AS nn FROM embeddings),
       |bp AS (
       |  SELECT qid, nid, round(${dotDuck("qv", "nv")} / (nq * nn), 6) AS score
       |  FROM q, bc WHERE nid <> qid),
       |brute_top AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |    FROM bp) WHERE rn <= $TopK)
       |SELECT b.qid, CAST(count(*) AS BIGINT) AS k_true,
       |  CAST(count(i.nid) AS BIGINT) AS n_hits
       |FROM brute_top b LEFT JOIN ivf_top i ON i.qid = b.qid AND i.nid = b.nid
       |GROUP BY b.qid ORDER BY b.qid""".stripMargin

  /** Unrolled PQ training + ADC search + exact rerank — the q_sim_pq
    * replay. Same quantized-update determinism as simIvfSql, per
    * (subspace m, code) codebook cell; M=8 subspaces x dsub=8 dims (the
    * 64-dim testdata layout), KSub=16 codes, 3 iterations, refine=25.
    * The candidate set is the GLOBAL ADC top-refine by (score DESC, nid),
    * matching the engine's partition-capped heaps + global window cut;
    * ADC dot is a fold over m of per-subspace sequential-fold dots,
    * byte-matching the engine's lut accumulation order. */
  /** Shared unrolled PQ TRAINING block: `sdims`, `ms`, `cb0`..`cb3`,
    * `enc(nid, m, code)`, `nap(nid, napprox)` — the replay of
    * ProductQuant.train + encode, with the same quantized-update
    * determinism as [[ivfTrainCte]] per (subspace m, code) codebook cell;
    * M=8 subspaces x dsub=8 dims (the 64-dim testdata layout), KSub=16
    * codes, 3 iterations. Assumes `e(vec_id, embedding)` is defined. */
  private val pqTrainCte = {
    def subdist(v: String, m: String, c: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 9), j -> (CAST($v[$m * 8 + j] AS DOUBLE) - $c[j]) * (CAST($v[$m * 8 + j] AS DOUBLE) - $c[j]))), (acc, x) -> acc + x)"
    val qsum = "CAST(sum(CAST(round(CAST(embedding[m * 8 + d.j] AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT)"
    def iter(t: Int) =
      s"""sa$t AS MATERIALIZED (
         |  SELECT vec_id, embedding, m, code FROM (
         |    SELECT e.vec_id, e.embedding, cb.m, cb.code,
         |      row_number() OVER (PARTITION BY e.vec_id, cb.m
         |        ORDER BY ${subdist("e.embedding", "cb.m", "cb.cv")}, cb.code) AS rn
         |    FROM e, cb${t - 1} cb) WHERE rn = 1),
         |ps$t AS MATERIALIZED (
         |  SELECT m, code, d.j AS j, $qsum AS s, count(*) AS n
         |  FROM sa$t, sdims d GROUP BY m, code, d.j),
         |cb$t AS MATERIALIZED (
         |  SELECT m, code, list(CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) ORDER BY j) AS cv
         |  FROM ps$t GROUP BY m, code
         |  UNION ALL
         |  SELECT p.m, p.code, p.cv FROM cb${t - 1} p
         |  WHERE NOT EXISTS (SELECT 1 FROM ps$t x WHERE x.m = p.m AND x.code = p.code))""".stripMargin
    s"""sdims AS MATERIALIZED (SELECT unnest(range(1, 9)) AS j),
       |ms AS MATERIALIZED (SELECT unnest(range(0, 8)) AS m),
       |cb0 AS MATERIALIZED (
       |  SELECT m.m, s.code,
       |    list_transform(range(1 + m.m * 8, 9 + m.m * 8), i -> CAST(s.embedding[i] AS DOUBLE)) AS cv
       |  FROM (SELECT CAST(rn AS INT) - 1 AS code, embedding FROM
       |          (SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings)
       |        WHERE rn <= 16) s, ms m),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |enc AS MATERIALIZED (
       |  SELECT vec_id AS nid, m, code FROM (
       |    SELECT e.vec_id, cb.m, cb.code,
       |      row_number() OVER (PARTITION BY e.vec_id, cb.m
       |        ORDER BY ${subdist("e.embedding", "cb.m", "cb.cv")}, cb.code) AS rn
       |    FROM e, cb3 cb) WHERE rn = 1),
       |nap AS MATERIALIZED (
       |  SELECT nid, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(flatten(list(cb.cv ORDER BY enc.m)), x -> x * x)), (acc, x) -> acc + x)) AS napprox
       |  FROM enc JOIN cb3 cb USING (m, code) GROUP BY nid)""".stripMargin
  }

  /** ADC search + exact rerank over [[pqTrainCte]]'s codes — `lutsFrom`
    * supplies the FROM/WHERE of the per-(query, candidate, subspace)
    * lut join, the only clause the IVF cell restriction changes. The
    * candidate set is the top-refine(25) by (ADC score DESC, nid),
    * matching the engine's partition-capped heaps + global window cut;
    * the ADC dot is a fold over m of per-subspace sequential-fold dots,
    * byte-matching the engine's lut accumulation order. */
  private def pqSearchSql(lutsFrom: String): String =
    s"""q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qv, ${normDuck("embedding")} AS nq
       |  FROM embeddings WHERE vec_id < $NumQueryVecs),
       |luts AS MATERIALIZED (
       |  SELECT q.qid, enc.nid, enc.m,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 9), j -> CAST(q.qv[enc.m * 8 + j] AS DOUBLE) * cb.cv[j])),
       |      (acc, x) -> acc + x) AS subdot
       |  $lutsFrom),
       |dots AS MATERIALIZED (
       |  SELECT qid, nid,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(subdot ORDER BY m)), (acc, x) -> acc + x) AS dot
       |  FROM luts GROUP BY qid, nid),
       |cand AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT d.qid, d.nid,
       |      row_number() OVER (PARTITION BY d.qid ORDER BY
       |        CASE WHEN n.napprox > 0 THEN d.dot / n.napprox ELSE CAST(0.0 AS DOUBLE) END DESC,
       |        d.nid) AS rn
       |    FROM dots d JOIN nap n USING (nid)) WHERE rn <= 25),
       |vecs AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${normDuck("embedding")} AS norm FROM embeddings),
       |p AS (
       |  SELECT c.qid, c.nid, round(${dotDuck("x.embedding", "y.embedding")} / (x.norm * y.norm), 6) AS score
       |  FROM cand c JOIN vecs x ON x.vec_id = c.qid JOIN vecs y ON y.vec_id = c.nid)
       |SELECT qid, rn, nid, score FROM (
       |  SELECT qid, nid, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM p)
       |WHERE rn <= $TopK ORDER BY qid, rn""".stripMargin

  private val simPqSql =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |$pqTrainCte,
       |${pqSearchSql(
        """FROM q, enc JOIN cb3 cb USING (m, code)
          |  WHERE enc.nid <> q.qid""".stripMargin)}""".stripMargin

  /** Unrolled IVF+PQ composite replay — the q_sim_ivfpq oracle: the IVF
    * training block assigns every vector a cell and ranks each query's
    * nprobe=3 probe cells (exactly simIvfSql's CTEs), the PQ block
    * trains codebooks and encodes the corpus (exactly simPqSql's CTEs —
    * codes quantize RAW vectors, not residuals, so the two blocks
    * compose unchanged), and the only new clause is the lut join's cell
    * restriction: a candidate is scored for a query iff its cell is one
    * of the query's probed cells. Everything downstream (ADC fold,
    * top-refine cut, exact rerank) is byte-identical to simPqSql. */
  private val simIvfPqSql =
    s"""WITH ${ivfTrainCte(8, 3)},
       |cells AS MATERIALIZED (
       |  SELECT vec_id AS nid, cluster FROM (
       |    SELECT e.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
       |    FROM e, c3 c) WHERE rn = 1),
       |probes AS MATERIALIZED (
       |  SELECT qid, cluster FROM (
       |    SELECT e.vec_id AS qid, c.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqdistDuck("e.embedding", "c.cv")}, c.cluster) AS rn
       |    FROM e, c3 c WHERE e.vec_id < $NumQueryVecs) WHERE rn <= 3),
       |$pqTrainCte,
       |${pqSearchSql(
        """FROM q JOIN probes pr ON pr.qid = q.qid
          |    JOIN cells cl ON cl.cluster = pr.cluster
          |    JOIN enc ON enc.nid = cl.nid
          |    JOIN cb3 cb USING (m, code)
          |  WHERE enc.nid <> q.qid""".stripMargin)}""".stripMargin

  private val langidSql = {
    val scores = Stopwords.map { case (l, _) => s"${langScoreDuck("ws", l)} AS s_$l" }.mkString(", ")
    val cols = Stopwords.map(s => s"s_${s._1}").mkString(", ")
    s"""WITH $docsCte,
       |s AS (SELECT doc_id, $scores FROM docs)
       |SELECT doc_id, $argmaxLangSql AS lang_pred, $cols FROM s ORDER BY doc_id""".stripMargin
  }

  private val qualitySql =
    s"""WITH d AS MATERIALIZED (SELECT doc_id, text, ${wordsDuck("text")} AS ws FROM documents)
       |SELECT doc_id,
       |  length(text) AS n_chars_raw,
       |  len(ws) AS n_words,
       |  len(list_distinct(ws)) AS n_uniq,
       |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
       |  CAST(len(list_filter(ws, w -> $qualityHitCondition)) AS DOUBLE) / len(ws) AS stop_ratio,
       |  CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) AS avg_word_len
       |FROM d ORDER BY doc_id""".stripMargin

  private val tokensSql =
    s"""WITH d AS (SELECT doc_id, ${wordsDuck("text")} AS ws FROM documents)
       |SELECT doc_id,
       |  len(ws) AS n_ws_tokens,
       |  CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS n_word_chars
       |FROM d ORDER BY doc_id""".stripMargin

  private val fingerprintSql =
    s"""SELECT doc_id, ${polyHashDuck("trim(text)")} AS fp FROM documents ORDER BY doc_id"""

  private val redactSql = {
    val hitCond = TextAnalysis.Blocklist.map(w => s"w = '$w'").mkString(" OR ")
    s"""SELECT doc_id,
       |  regexp_replace(text, '${TextAnalysis.blocklistPattern}', '${TextAnalysis.RedactMask}', 'g') AS redacted,
       |  len(list_filter(${wordsDuck("text")}, w -> $hitCond)) AS n_hits
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val chunksSql = {
    val size = TextAnalysis.ChunkSize
    val step = TextAnalysis.ChunkStep
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, text, unnest(range(0, (length(text) - 1) // $step + 1)) AS chunk_idx
       |  FROM documents WHERE doc_id < 100)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  substring(text, CAST(chunk_idx * $step + 1 AS INT), $size) AS chunk,
       |  length(substring(text, CAST(chunk_idx * $step + 1 AS INT), $size)) AS chunk_len
       |FROM t ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** chunk-hash cross-doc duplication: distinct (doc, hash) pairs, a hash
    * is shared when >= 2 docs carry it; same disjoint windows (step =
    * size) and polyhash as TextAnalysis.chunkDupStats */
  private val chunkDupSql = {
    val size = TextAnalysis.ChunkSize
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, text, unnest(range(0, (length(text) - 1) // $size + 1)) AS i
       |  FROM documents),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    ${polyHashDuck(s"substring(text, CAST(i * $size + 1 AS INT), $size)")} AS h
       |  FROM t),
       |f AS MATERIALIZED (SELECT h, count(*) AS ndocs FROM p GROUP BY h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(count(*) FILTER (ndocs >= 2) AS BIGINT) AS n_shared,
       |  round(CAST(count(*) FILTER (ndocs >= 2) AS DOUBLE) / count(*), 6) AS dup_frac
       |FROM p JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** hash-projection featurizer replay: per-word polyhash % 100003 once,
    * then per-dim integer coefficient sums, exact int64 → exact float */
  private val textEmbedSql = {
    val dim = 16
    s"""WITH h AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(${wordsDuck("text")}, w -> ${polyHashDuck("w")} % 100003) AS hs
       |  FROM documents)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(0, $dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, x -> (x * (131 * (d + 1)) + 137 * d) % 29 - 14)),
       |      (acc, v) -> acc + v) AS BIGINT)), ',') AS embedding_csv
       |FROM h ORDER BY doc_id""".stripMargin
  }

  private val sqlTextstatsSql =
    s"""WITH $docsCte,
       |wh AS MATERIALIZED (SELECT doc_id, ${wordHashesDuck("ws")} AS wh FROM docs)
       |SELECT d.doc_id, ${polyHashDuck("trim(d.text)")} AS fp, ${simhashDuck("w.wh")} AS sim
       |FROM documents d JOIN wh w ON d.doc_id = w.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** shared CTEs for vocabulary/TF-IDF: per-(doc, word) term frequencies */
  private val tfCtes =
    s"""w AS MATERIALIZED (SELECT doc_id, unnest(${wordsDuck("text")}) AS word FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word)""".stripMargin

  private val vocabSql =
    s"""WITH $tfCtes
       |SELECT word, CAST(sum(tf) AS BIGINT) AS n, count(*) AS df
       |FROM tf GROUP BY word ORDER BY n DESC, word LIMIT $VocabTopN""".stripMargin

  private val tfidfSql =
    s"""WITH $tfCtes,
       |df AS MATERIALIZED (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |s AS MATERIALIZED (
       |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
       |         tf.tf * (SELECT n_docs FROM n) / df.df AS score
       |  FROM tf JOIN df USING (word))
       |SELECT doc_id, rn, word, tf, df, score FROM (
       |  SELECT doc_id, word, tf, df, score,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rn
       |  FROM s)
       |WHERE rn <= $TfidfTopK ORDER BY doc_id, rn""".stripMargin

  private val bigramsSql =
    s"""WITH d AS (SELECT ${wordsDuck("text")} AS ws FROM documents),
       |g AS (SELECT unnest(list_transform(range(1, len(ws)),
       |               i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS gram
       |      FROM d WHERE len(ws) >= 2)
       |SELECT gram, count(*) AS n FROM g
       |GROUP BY gram ORDER BY n DESC, gram LIMIT $VocabTopN""".stripMargin

  /** PMI with the same factored float expression the Spark side evaluates:
    * (c12/c1) * (T/c2) — two IEEE divisions + one multiply over exact
    * int64 counts, in that exact order, so both engines round identically */
  private val pmiSql =
    s"""WITH d AS MATERIALIZED (SELECT ${wordsDuck("text")} AS ws FROM documents),
       |uc AS MATERIALIZED (
       |  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
       |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uc),
       |g AS (SELECT unnest(list_transform(range(1, len(ws)),
       |               i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS gram
       |      FROM d WHERE len(ws) >= 2),
       |bc AS (SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
       |              count(*) AS c12
       |       FROM g GROUP BY gram HAVING count(*) >= $PmiMinCount)
       |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
       |       (CAST(c12 AS DOUBLE) / u1.c) * (CAST((SELECT t FROM t) AS DOUBLE) / u2.c) AS pmi
       |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
       |ORDER BY pmi DESC, w1, w2 LIMIT $VocabTopN""".stripMargin

  private val splitHashSql =
    s"""WITH d AS (SELECT doc_id, ${polyHashDuck("text")} % 10 AS slot, length(text) AS len
       |           FROM documents)
       |SELECT CASE WHEN slot < 8 THEN 'train' WHEN slot = 8 THEN 'val' ELSE 'test' END AS split,
       |       count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_chars,
       |       min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM d GROUP BY 1 ORDER BY split""".stripMargin

  /** clustersSql's CC chain + keeper-hash split assignment: every doc
    * takes the split its cluster keeper's own text hashes to (singletons
    * are their own keeper) — the q_split_leakfree replay. */
  private val splitLeakfreeSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    clustersSql.substring(0, clustersSql.lastIndexOf("SELECT vertex AS doc_id")) +
      s""",
         |wk AS MATERIALIZED (
         |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS keeper
         |  FROM documents d LEFT JOIN l$iters l ON l.vertex = d.doc_id),
         |ks AS MATERIALIZED (
         |  SELECT doc_id AS keeper, ${polyHashDuck("text")} % 10 AS slot FROM documents)
         |SELECT wk.doc_id, wk.keeper,
         |       CASE WHEN slot < 8 THEN 'train' WHEN slot = 8 THEN 'val' ELSE 'test' END AS split
         |FROM wk JOIN ks ON ks.keeper = wk.keeper
         |ORDER BY doc_id""".stripMargin
  }

  private val stratifiedSql =
    s"""SELECT lang, rn, doc_id, h FROM (
       |  SELECT lang, doc_id, h,
       |         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn
       |  FROM (SELECT lang, doc_id, ${polyHashDuck("text")} AS h FROM documents))
       |WHERE rn <= $StratPerGroup ORDER BY lang, rn""".stripMargin

  /** priority-sampling oracle: q = w·P / (h + 1) — both operands exact
    * int64 < 2^53, one correctly-rounded IEEE division per row, so the
    * per-source top-k selection replays bit-exactly */
  private val prioritySampleSql =
    s"""WITH s AS MATERIALIZED (
       |  SELECT source, doc_id, n_chars, ${polyHashDuck("text")} AS h FROM documents),
       |p AS MATERIALIZED (
       |  SELECT source, doc_id, n_chars,
       |         CAST(n_chars * $P AS DOUBLE) / CAST(h + 1 AS DOUBLE) AS priority
       |  FROM s)
       |SELECT source, rn, doc_id, n_chars, priority FROM (
       |  SELECT source, doc_id, n_chars, priority,
       |         CAST(row_number() OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS BIGINT) AS rn
       |  FROM p)
       |WHERE rn <= $PrioritySampleK ORDER BY source, rn""".stripMargin

  /** linear quality-model oracle: the featurizer replay (textEmbedSql's
    * arithmetic) folded against the deterministic weight vector — exact
    * int64 end to end */
  private val qualityModelSql = {
    val dim = 16
    s"""WITH h AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(${wordsDuck("text")}, w -> ${polyHashDuck("w")} % 100003) AS hs
       |  FROM documents),
       |v AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(range(0, $dim), d ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(hs, x -> (x * (131 * (d + 1)) + 137 * d) % 29 - 14)),
       |        (acc, vv) -> acc + vv)) AS v
       |  FROM h),
       |s AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, $dim), d -> v[CAST(d + 1 AS INT)] * ((37 * (d + 1)) % 19 - 9))),
       |      (acc, x) -> acc + x) AS BIGINT) AS score
       |  FROM v)
       |SELECT doc_id, score, score >= 0 AS keep FROM s ORDER BY doc_id""".stripMargin
  }

  /** systematic-PPS oracle: single-window cumsum (the oracle may pay the
    * global sort; the engine does the two-phase scan) + stride-midpoint
    * probes, pure int64 so selection replays exactly */
  private val sampleWeightedSql =
    s"""WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
       |c AS (SELECT doc_id, wt,
       |        CAST(sum(wt) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM w),
       |t AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM w),
       |p AS (SELECT CAST(j AS BIGINT) AS sample_idx,
       |        CAST(((2 * j + 1) * (SELECT tot FROM t)) // (2 * $PpsSampleN) AS BIGINT) AS pos
       |      FROM range(0, $PpsSampleN) r(j))
       |SELECT p.sample_idx, c.doc_id, c.wt AS weight, p.pos
       |FROM p JOIN c ON p.pos >= c.cum - c.wt AND p.pos < c.cum
       |ORDER BY p.sample_idx""".stripMargin

  /** BPE oracle unroll: per round, the pair-count window (nx), the argmax
    * winner (win, total tie-break), the greedy non-overlapping keep set
    * (kp — even offsets within runs of consecutive matches), and the
    * rewritten state (s) — CTE-for-CTE the engine's Bpe.train round. */
  private def bpeCtes(rounds: Int, docsWhere: String = "TRUE"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${wordsDuck("text")}) AS word FROM documents WHERE $docsWhere)
       |  WHERE regexp_full_match(word, '[a-z]+') AND length(word) <= ${Bpe.MaxWordLen}
       |  GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, CAST(j AS BIGINT) AS pos,
       |         substr(word, CAST(j + 1 AS INT), 1) AS tok
       |  FROM w0 CROSS JOIN range(0, ${Bpe.MaxWordLen}) r(j)
       |  WHERE j < length(word))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |nx$i AS MATERIALIZED (
        |  SELECT word, freq, pos, tok,
        |         lead(tok) OVER (PARTITION BY word ORDER BY pos) AS ntok
        |  FROM s$p),
        |win$i AS MATERIALIZED (
        |  SELECT tok AS a, ntok AS b, CAST(sum(freq) AS BIGINT) AS c
        |  FROM nx$i WHERE ntok IS NOT NULL GROUP BY 1, 2
        |  ORDER BY c DESC, a, b LIMIT 1),
        |kp$i AS MATERIALIZED (
        |  SELECT word, pos FROM (
        |    SELECT word, pos, pos - min(pos) OVER (PARTITION BY word, grp) AS off
        |    FROM (SELECT t.word, t.pos,
        |            t.pos - row_number() OVER (PARTITION BY t.word ORDER BY t.pos) AS grp
        |          FROM nx$i t, win$i w WHERE t.tok = w.a AND t.ntok = w.b))
        |  WHERE off % 2 = 0),
        |s$i AS MATERIALIZED (
        |  SELECT s.word, s.freq,
        |    CAST(row_number() OVER (PARTITION BY s.word ORDER BY s.pos) - 1 AS BIGINT) AS pos,
        |    CASE WHEN k.pos IS NOT NULL THEN s.tok || (SELECT b FROM win$i)
        |         ELSE s.tok END AS tok
        |  FROM s$p s
        |  LEFT JOIN kp$i k ON k.word = s.word AND k.pos = s.pos
        |  LEFT JOIN kp$i k2 ON k2.word = s.word AND k2.pos + 1 = s.pos
        |  WHERE k2.pos IS NULL)""".stripMargin
    }
    sb.toString
  }

  private val bpeTrainSql = bpeCtes(Bpe.DefaultMerges) + "\n" +
    (1 to Bpe.DefaultMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, a AS lhs, b AS rhs, c AS pair_count FROM win$i")
      .mkString("\nUNION ALL\n") + "\nORDER BY rank"

  /** Unrolled BATCHED BPE training (Bpe.trainBatched): per round, the
    * top-B pair counts (cd), the GREEDY accept-vs-accepted filter —
    * candidate i accepted iff no previously ACCEPTED candidate shares a
    * symbol, exactly the engine's driver-side greedy scan. Replayed as
    * ONE uncorrelated rank-ordered list_reduce (acl) whose LIST-typed
    * accumulator carries accepted symbols plus 'a|b' pair markers
    * (symbols are [a-z]+ so the marker can never collide with a bare
    * symbol); ac then keeps the cd rows whose marker appears.
    * Two DuckDB-1.0 lambda traps dodged here (both reproduce on
    * literals): an inequality-CORRELATED list(ORDER BY) aggregate
    * resets per vector chunk, and a lambda branch returning the
    * accumulator IDENTITY (unchanged `acc`) loses all accumulated state
    * — hence the single uncorrelated fold whose reject branch returns
    * list_concat(acc, []) instead of acc. The keep set carries each
    * match's rhs; the rewrite is simultaneous; global merge rank is
    * round-major. Exhausted rounds pass state through unchanged (empty
    * cd/ac/kp), matching the engine's early exit. */
  private def bpeBatchedCtes(rounds: Int, batch: Int,
      docsWhere: String = "TRUE"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${wordsDuck("text")}) AS word FROM documents WHERE $docsWhere)
       |  WHERE regexp_full_match(word, '[a-z]+') AND length(word) <= ${Bpe.MaxWordLen}
       |  GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, CAST(j AS BIGINT) AS pos,
       |         substr(word, CAST(j + 1 AS INT), 1) AS tok
       |  FROM w0 CROSS JOIN range(0, ${Bpe.MaxWordLen}) r(j)
       |  WHERE j < length(word))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |nx$i AS MATERIALIZED (
        |  SELECT word, freq, pos, tok,
        |         lead(tok) OVER (PARTITION BY word ORDER BY pos) AS ntok
        |  FROM s$p),
        |cd$i AS MATERIALIZED (
        |  SELECT * FROM (
        |    SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a, b) AS rk FROM (
        |      SELECT tok AS a, ntok AS b, CAST(sum(freq) AS BIGINT) AS c
        |      FROM nx$i WHERE ntok IS NOT NULL GROUP BY 1, 2))
        |  WHERE rk <= $batch),
        |acl$i AS MATERIALIZED (
        |  SELECT coalesce(list_reduce(list_prepend(CAST([] AS VARCHAR[]),
        |      coalesce(list([a, b] ORDER BY rk), CAST([] AS VARCHAR[][]))),
        |    (acc, p) -> list_concat(acc,
        |      CASE WHEN list_contains(acc, p[1]) OR list_contains(acc, p[2])
        |           THEN CAST([] AS VARCHAR[])
        |           ELSE [p[1], p[2], p[1] || '|' || p[2]] END)),
        |    CAST([] AS VARCHAR[])) AS acc
        |  FROM cd$i),
        |ac$i AS MATERIALIZED (
        |  SELECT i.a, i.b, i.c, i.rk FROM cd$i i, acl$i
        |  WHERE list_contains(acl$i.acc, i.a || '|' || i.b)),
        |kp$i AS MATERIALIZED (
        |  SELECT word, pos, b FROM (
        |    SELECT word, pos, b, pos - min(pos) OVER (PARTITION BY word, grp) AS off
        |    FROM (SELECT t.word, t.pos, w.b,
        |            t.pos - row_number() OVER (PARTITION BY t.word ORDER BY t.pos) AS grp
        |          FROM nx$i t, ac$i w WHERE t.tok = w.a AND t.ntok = w.b))
        |  WHERE off % 2 = 0),
        |s$i AS MATERIALIZED (
        |  SELECT s.word, s.freq,
        |    CAST(row_number() OVER (PARTITION BY s.word ORDER BY s.pos) - 1 AS BIGINT) AS pos,
        |    CASE WHEN k.pos IS NOT NULL THEN s.tok || k.b ELSE s.tok END AS tok
        |  FROM s$p s
        |  LEFT JOIN kp$i k ON k.word = s.word AND k.pos = s.pos
        |  LEFT JOIN kp$i k2 ON k2.word = s.word AND k2.pos + 1 = s.pos
        |  WHERE k2.pos IS NULL)""".stripMargin
    }
    sb.toString
  }

  private val bpeTrainBatchedSql =
    bpeBatchedCtes(Bpe.BatchRounds, Bpe.MergeBatch) + s""",
      |allac AS (
      |  ${(1 to Bpe.BatchRounds).map(i => s"SELECT $i AS rnd, rk, a, b, c FROM ac$i").mkString(" UNION ALL ")})
      |SELECT CAST(row_number() OVER (ORDER BY rnd, rk) AS BIGINT) AS rank,
      |       a AS lhs, b AS rhs, c AS pair_count
      |FROM allac ORDER BY rank""".stripMargin

  private val bpeVocabSql = bpeCtes(Bpe.DefaultMerges) +
    s"""\nSELECT tok, count(*) AS n_positions, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |FROM s${Bpe.DefaultMerges} GROUP BY tok ORDER BY tok""".stripMargin

  /** train/apply split on the BATCHED trainer (the deployment faces'
    * round-13 re-point, r12 verdict item 2): merges trained by the
    * batched CTEs on the EVEN-doc slice, then replayed over the ODD
    * slice's distinct eligible words ROUND-SIMULTANEOUSLY — each training
    * round's accepted set (ac$g, pairwise symbol-disjoint) applies in one
    * rewrite pass with the matched rhs traveling on the keep row, exactly
    * the rewrite the trainer used on its own state (Bpe.encodeBatched
    * does the same, so deployment tokenization ≡ training tokenization by
    * construction and the chain costs BatchRounds passes, not one per
    * merge). An exhausted round's empty ac$g no-ops in both engines. */
  private val bpeBatchedEncodeCtes: String = {
    val sb = new StringBuilder
    sb ++= bpeBatchedCtes(Bpe.BatchRounds, Bpe.MergeBatch, "doc_id % 2 = 0")
    sb ++= s""",
      |e0 AS MATERIALIZED (
      |  SELECT word, CAST(j AS BIGINT) AS pos,
      |         substr(word, CAST(j + 1 AS INT), 1) AS tok
      |  FROM (SELECT DISTINCT word FROM (
      |          SELECT unnest(${wordsDuck("text")}) AS word FROM documents WHERE doc_id % 2 = 1)
      |        WHERE regexp_full_match(word, '[a-z]+') AND length(word) <= ${Bpe.MaxWordLen})
      |  CROSS JOIN range(0, ${Bpe.MaxWordLen}) r(j)
      |  WHERE j < length(word))""".stripMargin
    for (g <- 1 to Bpe.BatchRounds) {
      val p = g - 1
      sb ++= s""",
        |ne$g AS MATERIALIZED (
        |  SELECT word, pos, tok,
        |         lead(tok) OVER (PARTITION BY word ORDER BY pos) AS ntok
        |  FROM e$p),
        |ke$g AS MATERIALIZED (
        |  SELECT word, pos, b FROM (
        |    SELECT word, pos, b, pos - min(pos) OVER (PARTITION BY word, grp) AS off
        |    FROM (SELECT t.word, t.pos, w.b,
        |            t.pos - row_number() OVER (PARTITION BY t.word ORDER BY t.pos) AS grp
        |          FROM ne$g t, ac$g w WHERE t.tok = w.a AND t.ntok = w.b))
        |  WHERE off % 2 = 0),
        |e$g AS MATERIALIZED (
        |  SELECT s.word,
        |    CAST(row_number() OVER (PARTITION BY s.word ORDER BY s.pos) - 1 AS BIGINT) AS pos,
        |    CASE WHEN k.pos IS NOT NULL THEN s.tok || k.b ELSE s.tok END AS tok
        |  FROM e$p s
        |  LEFT JOIN ke$g k ON k.word = s.word AND k.pos = s.pos
        |  LEFT JOIN ke$g k2 ON k2.word = s.word AND k2.pos + 1 = s.pos
        |  WHERE k2.pos IS NULL)""".stripMargin
    }
    sb.toString
  }

  /** the final encode-chain CTE name under the per-round batched replay */
  private val bpeBatchedEncodeLast = s"e${Bpe.BatchRounds}"

  private val bpeEncodeSql =
    bpeBatchedEncodeCtes +
      s"\nSELECT word, pos, tok FROM $bpeBatchedEncodeLast ORDER BY word, pos"

  /** tokenizer-accurate per-doc token counts over the held-out slice:
    * encoded length per distinct word (from the encode chain), joined
    * back to doc word occurrences; OOV words (non-[a-z]+ or too long —
    * outside the trained vocabulary) fall back to one token per char,
    * mirrored on both sides */
  private val bpeTokensSql = {
    bpeBatchedEncodeCtes + s""",
      |wl AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM $bpeBatchedEncodeLast GROUP BY word),
      |dw AS MATERIALIZED (
      |  SELECT doc_id, unnest(${wordsDuck("text")}) AS word
      |  FROM documents WHERE doc_id % 2 = 1)
      |SELECT doc_id,
      |  CAST(sum(coalesce(wl.n_tok, length(dw.word))) AS BIGINT) AS n_bpe_tokens,
      |  CAST(count(*) AS BIGINT) AS n_words
      |FROM dw LEFT JOIN wl ON wl.word = dw.word
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** bpeTokensSql's encode-chain replay aggregated per source, plus char
    * sums — integral masses, two rounded IEEE divisions */
  private val bpeFertilitySql = {
    bpeBatchedEncodeCtes + s""",
      |wl AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM $bpeBatchedEncodeLast GROUP BY word),
      |dw AS MATERIALIZED (
      |  SELECT source, unnest(${wordsDuck("text")}) AS word
      |  FROM documents WHERE doc_id % 2 = 1),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(coalesce(wl.n_tok, length(dw.word))) AS BIGINT) AS n_tokens,
      |    CAST(sum(length(dw.word)) AS BIGINT) AS n_chars
      |  FROM dw LEFT JOIN wl ON wl.word = dw.word
      |  GROUP BY source)
      |SELECT source, n_words, n_tokens, n_chars,
      |  round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
      |  round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token
      |FROM agg ORDER BY source""".stripMargin
  }

  /** clustersSql's CC chain + a quality/langid CTE: the curated corpus is
    * quality-passing docs that are not near-dup cluster losers */
  private val curateSql = {
    val iters = graft.graph.Graphs.DefaultCcRounds
    val scores = Stopwords.map { case (l, _) => s"${langScoreDuck("ws", l)} AS s_$l" }.mkString(", ")
    clustersSql.substring(0, clustersSql.lastIndexOf("SELECT vertex AS doc_id")) +
      s""",
         |f AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |         CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ur, $scores
         |  FROM docs)
         |SELECT doc_id, $argmaxLangSql AS lang_pred, n_words
         |FROM f
         |WHERE n_words >= $MinWords AND ur >= $MinUniqRatio
         |  AND doc_id NOT IN (SELECT vertex FROM l$iters WHERE vertex <> label)
         |ORDER BY doc_id""".stripMargin
  }

  private val multimodalMetaSql =
    s"""SELECT doc_id, 'application/octet-stream' AS mime,
       |  octet_length(CAST(text AS BLOB)) AS n_bytes, source AS origin
       |FROM documents ORDER BY doc_id""".stripMargin

  // feature oracle is exact because the corpus is ASCII (verified: byte
  // length == char length for every row), so ascii(char) == byte value
  private val multimodalFeaturesSql =
    s"""WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS nb FROM documents)
       |SELECT doc_id, 'application/octet-stream' AS mime, nb AS n_bytes,
       |  CAST(32 + (CASE WHEN nb > 0 THEN ascii(substring(text, 1, 1)) ELSE 0 END) % 97 AS INTEGER) AS width,
       |  CAST(32 + nb % 89 AS INTEGER) AS height,
       |  CASE WHEN nb = 0 THEN 0.0
       |       ELSE CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE) / nb
       |  END AS mean_byte
       |FROM d ORDER BY doc_id""".stripMargin

  // exact because the corpus is ASCII (char i == byte i): every 4th char
  // of the text IS every 4th payload byte
  private val multimodalResizeSql =
    s"""WITH r AS (
       |  SELECT doc_id, length(text) AS n_in,
       |         array_to_string(list_transform(
       |           range(0, CAST(ceil(length(text) / $ResizeFactor.0) AS BIGINT)),
       |           i -> substring(text, CAST(i * $ResizeFactor + 1 AS INT), 1)), '') AS rs
       |  FROM documents)
       |SELECT doc_id, CAST(n_in AS BIGINT) AS n_bytes_in,
       |       CAST(length(rs) AS BIGINT) AS n_bytes_out, ${polyHashDuck("rs")} AS fp
       |FROM r ORDER BY doc_id""".stripMargin

  private val multimodalFramesSql =
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |         unnest(range(0, CAST(ceil(length(text) / $FrameChars.0) AS BIGINT))) AS frame_idx
       |  FROM documents),
       |c AS (SELECT doc_id, frame_idx,
       |             substring(text, CAST(frame_idx * $FrameChars + 1 AS INT), $FrameChars) AS chunk
       |      FROM f WHERE frame_idx % $FrameEvery = 0)
       |SELECT doc_id, frame_idx, octet_length(CAST(chunk AS BLOB)) AS n_bytes,
       |       ${polyHashDuck("chunk")} AS fp
       |FROM c ORDER BY doc_id, frame_idx""".stripMargin

  /** exact-substring replay: same double-fold gram keys (TextHash
    * constants), same postings cap, same diagonal-run grouping — integer
    * arithmetic end to end, so the span sets match bit-for-bit.
    * `docsSql` selects the (doc_id, text) input relation; `selfJoin`
    * switches the anchor join from cross-doc (doc_a < doc_b) to
    * intra-doc (same doc, pa < pb). Yields CTEs through `runs`. */
  /** gram-relation replay alone (CTEs d/w/p/g — the shared prefix of the
    * pairwise substring family and the frequency-based boilerplate scrub):
    * same double-fold gram keys as the engine's GramKeysExpr kernel. */
  private def gramCtes(k: Int, docsSql: String): String =
    s"""WITH d AS MATERIALIZED ($docsSql),
       |w AS MATERIALIZED (
       |  SELECT doc_id, ${wordPolyHashesDuck(wordsDuck("text"))} AS wh1,
       |         ${wordPolyHashes2Duck(wordsDuck("text"))} AS wh2
       |  FROM d),
       |p AS MATERIALIZED (
       |  SELECT doc_id, wh1, wh2, unnest(range(1, len(wh1) - $k + 2)) AS pos FROM w),
       |g AS MATERIALIZED (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |         ${gramKeyDuck("wh1", "wh2", "pos", k)} AS h
       |  FROM p)""".stripMargin

  private def substringCtes(k: Int, maxOcc: Long, docsSql: String,
      selfJoin: Boolean): String = {
    val joinCond =
      if (selfJoin) "a.doc_id = b.doc_id AND a.pos < b.pos"
      else "a.doc_id < b.doc_id"
    gramCtes(k, docsSql) + s""",
       |hot AS MATERIALIZED (SELECT h FROM g GROUP BY h HAVING count(*) > $maxOcc),
       |kept AS MATERIALIZED (SELECT * FROM g WHERE h NOT IN (SELECT h FROM hot)),
       |m AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, a.pos AS pa, b.doc_id AS doc_b, b.pos AS pb
       |  FROM kept a JOIN kept b USING (h) WHERE $joinCond),
       |r AS MATERIALIZED (
       |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
       |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       |  FROM m),
       |runs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, diag, min(pa) AS a_start,
       |         CAST(count(*) + $k - 1 AS BIGINT) AS span_words
       |  FROM r GROUP BY doc_a, doc_b, diag, grp)""".stripMargin
  }

  private val plainDocsSql = "SELECT doc_id, text FROM documents"

  private val substringSql =
    substringCtes(SubstrK, SubstrMaxOcc, plainDocsSql, selfJoin = false) +
      s"""
         |SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, span_words
         |FROM runs WHERE span_words >= $SubstrMinLen
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  /** coverage replay: both sides of every qualifying span become per-doc
    * intervals, coalesced by the gaps-and-islands sweep (running max of
    * prior ends — the Intervals.coalesce arithmetic), then summed;
    * zero-coverage docs ride in via the left join */
  private val substringCovSql =
    substringCtes(SubstrK, SubstrMaxOcc, plainDocsSql, selfJoin = false) +
      s""",
         |spans AS MATERIALIZED (
         |  SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, span_words
         |  FROM runs WHERE span_words >= $SubstrMinLen),
         |sides AS MATERIALIZED (
         |  SELECT doc_a AS doc_id, a_start AS s, a_start + span_words - 1 AS e FROM spans
         |  UNION ALL
         |  SELECT doc_b, b_start, b_start + span_words - 1 FROM spans),
         |marked AS MATERIALIZED (
         |  SELECT doc_id, s, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM sides),
         |islands AS MATERIALIZED (
         |  SELECT doc_id, s, e,
         |         sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY s, e
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM marked),
         |cov AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(ie - is_ + 1) AS BIGINT) AS n_cov FROM (
         |    SELECT doc_id, island, min(s) AS is_, max(e) AS ie
         |    FROM islands GROUP BY doc_id, island)
         |  GROUP BY doc_id),
         |nw AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(${wordsDuck("text")}) AS BIGINT) AS n_words FROM d)
         |SELECT nw.doc_id, nw.n_words, coalesce(cov.n_cov, 0) AS n_cov,
         |       round(CAST(coalesce(cov.n_cov, 0) AS DOUBLE) / nw.n_words, 6) AS cov_frac
         |FROM nw LEFT JOIN cov ON nw.doc_id = cov.doc_id
         |ORDER BY nw.doc_id""".stripMargin

  /** incremental replay: the batch union's spans restricted to pairs
    * touching the odd-id ingest batch — the restriction IS the contract
    * (hot cap over union counts included, since the engine computes it
    * from stored-index + batch counts) */
  private val substringIncSql =
    substringCtes(SubstrK, SubstrMaxOcc, plainDocsSql, selfJoin = false) +
      s"""
         |SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, span_words
         |FROM runs
         |WHERE span_words >= $SubstrMinLen AND (doc_a % 2 = 1 OR doc_b % 2 = 1)
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  /** shared scrub tail (assumes CTEs `d` (doc_id, text) and `sides`
    * (doc_id, s, e)): islands coalesce, positional word filter + ordered
    * re-concatenation; untouched docs keep their text verbatim. `where`
    * restricts the OUTPUT docs (the incremental twin's batch slice) —
    * intervals of out-of-slice docs are simply never consumed. */
  private def scrubTailSql(where: String = ""): String =
    s""",
       |marked AS MATERIALIZED (
       |  SELECT doc_id, s, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM sides),
       |islands AS MATERIALIZED (
       |  SELECT doc_id, s, e,
       |         sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s, e
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM marked),
       |ig AS MATERIALIZED (
       |  SELECT doc_id, island, min(s) AS is_, max(e) AS ie
       |  FROM islands GROUP BY doc_id, island),
       |ws2 AS MATERIALIZED (
       |  SELECT doc_id, ${wordsDuck("text")} AS ws FROM d $where),
       |wpos AS MATERIALIZED (
       |  SELECT doc_id, unnest(ws) AS w,
       |         CAST(unnest(range(1, len(ws) + 1)) AS BIGINT) AS p
       |  FROM ws2),
       |keptw AS MATERIALIZED (
       |  SELECT doc_id, w, p FROM wpos
       |  WHERE NOT EXISTS (SELECT 1 FROM ig
       |                    WHERE ig.doc_id = wpos.doc_id
       |                      AND wpos.p BETWEEN ig.is_ AND ig.ie)),
       |agg AS MATERIALIZED (
       |  SELECT doc_id, coalesce(string_agg(w, ' ' ORDER BY p), '') AS text_scrubbed,
       |         CAST(count(*) AS BIGINT) AS n_kept
       |  FROM keptw GROUP BY doc_id)
       |SELECT ws2.doc_id, CAST(len(ws2.ws) AS BIGINT) AS n_words,
       |       CAST(len(ws2.ws) AS BIGINT) - coalesce(agg.n_kept, 0) AS n_removed,
       |       coalesce(agg.text_scrubbed, '') AS text_scrubbed
       |FROM ws2 LEFT JOIN agg ON ws2.doc_id = agg.doc_id
       |ORDER BY ws2.doc_id""".stripMargin

  /** scrub replay: loser-side (doc_b) intervals per doc, then the shared
    * scrub tail */
  private val substringScrubSql =
    substringCtes(SubstrK, SubstrMaxOcc, plainDocsSql, selfJoin = false) +
      s""",
         |spans AS MATERIALIZED (
         |  SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, span_words
         |  FROM runs WHERE span_words >= $SubstrMinLen),
         |sides AS MATERIALIZED (
         |  SELECT doc_b AS doc_id, b_start AS s, b_start + span_words - 1 AS e FROM spans)""".stripMargin +
      scrubTailSql()

  /** boilerplate replay: gram keys over the template-augmented face, df
    * threshold over DISTINCT docs, covered k-wide intervals from EVERY
    * doc (no keeper), then the shared scrub tail */
  private val boilerplateSql =
    gramCtes(SubstrK, boilerDocsSqlDuck) +
      s""",
         |bo AS MATERIALIZED (
         |  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= $BoilerMinDf),
         |sides AS MATERIALIZED (
         |  SELECT doc_id, pos AS s, pos + ${SubstrK - 1} AS e FROM g
         |  WHERE h IN (SELECT h FROM bo))""".stripMargin +
      scrubTailSql()

  /** incremental boilerplate replay: df over the UNION (stored + batch
    * counts are what the engine sums — disjoint doc sets make it exact),
    * output restricted to the odd-id batch */
  private val boilerplateIncSql =
    gramCtes(SubstrK, boilerDocsSqlDuck) +
      s""",
         |bo AS MATERIALIZED (
         |  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= $BoilerMinDf),
         |sides AS MATERIALIZED (
         |  SELECT doc_id, pos AS s, pos + ${SubstrK - 1} AS e FROM g
         |  WHERE h IN (SELECT h FROM bo))""".stripMargin +
      scrubTailSql("WHERE doc_id % 2 = 1")

  /** self-repeat replay on the deterministically augmented corpus (text
    * plus its own first 20 words re-appended — the synthetic face that
    * guarantees intra-doc repeats on testdata, the q_graph_cc_chain
    * precedent); intra-doc anchor join, same runs machinery */
  private val selfRepeatSql =
    substringCtes(SubstrK, SubstrMaxOcc, augDocsSqlDuck, selfJoin = true) +
      s"""
         |SELECT doc_a AS doc_id, a_start, a_start - diag AS b_start, span_words
         |FROM runs WHERE span_words >= $SelfRepMinLen
         |ORDER BY doc_id, a_start, b_start""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_substring" -> substringSql,
    "q_dedup_substring_cov" -> substringCovSql,
    "q_dedup_substring_scrub" -> substringScrubSql,
    "q_dedup_boilerplate" -> boilerplateSql,
    "q_dedup_boilerplate_inc" -> boilerplateIncSql,
    "q_dedup_substring_inc" -> substringIncSql,
    // the SQL-composed pipeline is the same computation — same oracle
    "q_sql_substring" -> substringSql,
    // the stored-index path changes WHERE grams come from, not what they
    // are — same split, same oracle, hash equality IS the proof
    "q_dedup_substring_inc_idx" -> substringIncSql,
    "q_text_selfrepeat" -> selfRepeatSql,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY keeper""",
    "q_dedup_exact_fp" ->
      s"""SELECT fp, min(doc_id) AS keeper, count(*) AS n_copies
         FROM (SELECT doc_id, ${polyHashDuck("text")} AS fp, length(text) AS len FROM documents)
         GROUP BY fp, len ORDER BY keeper""",
    "q_dedup_exact_fp128" ->
      s"""SELECT fp_hi, fp_lo, min(doc_id) AS keeper, count(*) AS n_copies
         FROM (SELECT doc_id, ${polyHashDuck("text")} AS fp_hi,
                 ${graft.pipeline.TextHash.polyHash2Duck("text")} AS fp_lo,
                 length(text) AS len FROM documents)
         GROUP BY fp_hi, fp_lo, len ORDER BY keeper""",
    "q_dedup_normtext" ->
      """WITH n AS MATERIALIZED (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT min(doc_id) AS keeper, count(*) AS n_docs, CAST(length(norm) AS BIGINT) AS norm_len
        |FROM n GROUP BY norm
        |ORDER BY keeper""".stripMargin,
    "q_dedup_minhash" -> minhashSql,
    "q_dedup_minhash_capped" -> minhashCappedSql,
    "q_dedup_clusters" -> clustersSql,
    "q_dedup_family_hist" -> familyHistSql,
    "q_decontam_overlap" -> decontamOverlapSql,
    "q_text_novelty" -> noveltySql,
    "q_sample_importance" -> importanceSql,
    "q_sample_importance_inc" -> importanceIncSql,
    // the SQL surface reproduces the Column-API pipeline exactly, so it
    // shares its oracle
    "q_sql_importance" -> importanceSql,
    "q_select_training" -> selectTrainingSql,
    "q_sample_cluster" -> sampleClusterSql,
    "q_text_novelty_inc" -> noveltyIncSql,
    "q_dedup_final" -> dedupFinalSql,
    "q_dedup_final_bloom" -> dedupFinalSql,
    "q_dedup_incremental" -> incrementalSql,
    // the stored-index path changes WHERE signatures come from, not what
    // they are — same split, same oracle, hash equality IS the proof
    "q_dedup_incremental_idx" -> incrementalSql,
    "q_dedup_simhash" -> simhashSql,
    "q_dedup_containment" -> containmentSql,
    // prefix filtering changes candidate generation, not the result set —
    // the all-pairs oracle checks the prefix path end to end
    "q_dedup_containment_pf" -> containmentSql,
    "q_dedup_containment_auto" -> containmentSql,
    "q_dedup_source_overlap" -> sourceOverlapSql,
    "q_kmv_overlap" -> kmvOverlapSql,
    "q_multimodal_dedup" -> multimodalDedupSql,
    "q_dedup_priority" -> prioritySql,
    "q_decontaminate" -> decontamSql,
    "q_text_bm25" -> bm25Sql,
    "q_text_repetition" -> repetitionSql,
    "q_source_signature" -> sourceSignatureSql,
    "q_mixture_weights" -> mixtureSql,
    "q_mixture_sample" -> mixtureSampleSql,
    "q_mixture_budget" -> mixtureBudgetSql,
    "q_inverted_index" -> invertedIndexSql,
    // stored-index merge == batch build over the union (disjoint doc ids):
    // same oracle, hash equality is the proof
    "q_inverted_index_inc" -> invertedIndexSql,
    "q_dedup_ngram" -> ngramSql,
    "q_dedup_winnow" -> winnowSql,
    "q_dedup_winnow_capped" -> winnowCappedSql,
    // the auto route picks the direct capped path on every non-degenerate
    // corpus (probe ratio 1.000-1.002 on these tables) — one SQL, routed
    // plan, the containmentDedupAuto proof shape
    "q_dedup_winnow_auto" -> winnowCappedSql,
    "q_dedup_winnow_inc" -> winnowIncSql,
    "q_sim_hard_negatives" -> simHardNegSql,
    "q_dedup_embedding" -> embDedupSql,
    "q_dedup_semantic" -> dedupSemanticSql,
    "q_dedup_semantic_pairs" -> dedupSemanticPairsSql,
    "q_dedup_embedding_inc" -> embDedupIncSql,
    "q_dedup_embedding_idx" -> embDedupIdxSql,
    "q_dedup_screen" -> embScreenSql,
    "q_sim_topk" -> simTopkSql,
    "q_sim_lsh" -> simLshSql,
    "q_sim_lsh_mp" -> simLshMpSql,
    "q_sim_ivf" -> simIvfSql,
    "q_sim_recall" -> simRecallSql,
    "q_sim_pq" -> simPqSql,
    "q_sim_ivfpq" -> simIvfPqSql,
    "q_text_langid" -> langidSql,
    "q_text_quality" -> qualitySql,
    "q_text_tokens" -> tokensSql,
    "q_text_fingerprint" -> fingerprintSql,
    "q_text_redact" -> redactSql,
    "q_text_chunks" -> chunksSql,
    "q_text_chunk_dup" -> chunkDupSql,
    "q_text_embed" -> textEmbedSql,
    "q_sql_textstats" -> sqlTextstatsSql,
    // the SQL-surface pipelines must reproduce the Column-API pipelines
    // exactly, so they share the Column-API queries' oracles
    "q_sql_dedup" -> minhashSql,
    "q_sql_neardup" -> embDedupSql,
    "q_text_vocab" -> vocabSql,
    "q_text_tfidf" -> tfidfSql,
    "q_text_bigrams" -> bigramsSql,
    "q_text_pmi" -> pmiSql,
    "q_split_hash" -> splitHashSql,
    "q_split_leakfree" -> splitLeakfreeSql,
    "q_sample_stratified" -> stratifiedSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_sample_priority" -> prioritySampleSql,
    "q_quality_model" -> qualityModelSql,
    "q_bpe_train" -> bpeTrainSql,
    "q_bpe_train_batched" -> bpeTrainBatchedSql,
    "q_bpe_vocab" -> bpeVocabSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_text_tokens_bpe" -> bpeTokensSql,
    "q_bpe_fertility" -> bpeFertilitySql,
    "q_curate" -> curateSql,
    "q_multimodal_meta" -> multimodalMetaSql,
    "q_multimodal_features" -> multimodalFeaturesSql,
    "q_multimodal_frames" -> multimodalFramesSql,
    "q_multimodal_resize" -> multimodalResizeSql,
  )
}

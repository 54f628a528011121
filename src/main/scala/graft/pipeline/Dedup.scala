package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextHash._
import graft.functions.GraftFunctions
import graft.iterate.Fixpoint

/** Document deduplication for training-data pipelines, at four fidelity
  * levels. All hashing is the deterministic integer arithmetic of TextHash
  * (no engine-native hashes), so results are reproducible across engines
  * and cluster sizes.
  *
  * Scale design: exact dedup is one hash-partitioned groupBy. MinHash/LSH
  * and SimHash avoid the quadratic pair space entirely — candidates come
  * from equi-joins on band keys (shuffle on small keys, heavily partial-
  * aggregated), and only candidates pay the verification cost. At 100 TB
  * the band join is the only shuffle whose width matters, and its key
  * cardinality (bands x key-space) keeps partitions balanced; a hot band
  * (many identical docs) is exactly the AQE skew-join case.
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the surviving doc_id
    * (lowest) and the duplicate count. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  /** Text normalization for near-exact dedup: casefold, strip
    * non-alphanumerics, collapse space runs, trim — catches trivially
    * reformatted copies (case, punctuation, whitespace) that byte-exact
    * dedup misses, without any similarity machinery. Pure per-row codegen
    * expressions; the regexes avoid constructs where Java and RE2
    * semantics diverge. */
  def normalizedText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), "  +", " "))

  /** Normalization-based dedup: one row per distinct NORMALIZED text with
    * the surviving doc_id and group size. At 100 TB compose with the
    * fingerprint trick below — hash the normalized text so the dedup
    * shuffle carries 16 B/row instead of documents. */
  def normalizedExact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normalizedText(col("text")).as("norm"))
      .groupBy("norm")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .withColumn("norm_len", length(col("norm")).cast("long"))
      .select("keeper", "n_docs", "norm_len")

  /** Exact dedup that never shuffles payloads: group by (fingerprint,
    * length) instead of the full text — at 100 TB the shuffle carries 16
    * bytes per row instead of documents. Collision risk is 1/P per pair
    * within a length class (P = 1e9+7); [[exactByFingerprint128]] is the
    * widening to trust before deleting data on the strength of a hash. */
  def exactByFingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        GraftFunctions.polyHash(col("text")).as("fp"),
        length(col("text")).as("len"))
      .groupBy("fp", "len")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .select("fp", "keeper", "n_copies")

  /** The production-trust widening of [[exactByFingerprint]]: TWO
    * independent polynomial fingerprints (base 31 mod 1e9+7 and base 131
    * mod 998244353) plus the length key. A colliding pair must collide
    * under both folds within a length class — pairwise odds ~1/(P·P2) ≈
    * 1e-18, i.e. ~5e-6 expected false merges across the ~10^12-pair mass
    * of a 100 TB corpus, vs ~10^3 at 64 bits. Price is explicit: the
    * dedup shuffle carries 32 B/row (fp_hi, fp_lo, len, doc_id) instead
    * of 24 — still no payload bytes; both hashes come from the same
    * codegen'd single pass over the text. */
  def exactByFingerprint128(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        GraftFunctions.polyHash(col("text")).as("fp_hi"),
        GraftFunctions.polyHash2(col("text")).as("fp_lo"),
        length(col("text")).as("len"))
      .groupBy("fp_hi", "fp_lo", "len")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .select("fp_hi", "fp_lo", "keeper", "n_copies")

  /** (doc_id, hs) — distinct 3-word-shingle poly-hashes per document.
    * Documents with fewer than 3 words have no shingles and are dropped.
    * Uses the codegen'd ShingleHashesExpr kernel (graft.functions); the
    * HOF-expression formulation it replaces is kept in TextHash for the
    * oracle and equivalence tests. */
  def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), GraftFunctions.shingleHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)

  /** (doc_id, hs, mh) — minhash signatures over the shingle-hash sets. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    shingleHashes(docs).withColumn("mh", GraftFunctions.minHashSig(col("hs")))

  /** (doc_id, band, key) — the LSH band-key relation of a signature set
    * (at scale this IS the stored index an incremental pipeline keeps). */
  def bandKeys(signatures: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map(b =>
      struct(lit(b).as("band"), expr(bandKeySpark("mh", b)).as("key")))
    signatures
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from LSH banding: docs sharing any band of the
    * signature. Output (doc_a < doc_b), distinct.
    *
    * `maxBandOcc` is the band-key postings cap — the LSH twin of the
    * substring path's hot-gram cap: band keys shared by more than
    * `maxBandOcc` documents are dropped from candidate generation (the
    * per-key join fan-out is occupancy², so ONE boilerplate-driven hot
    * key can dominate the whole candidate stage — the skew sweep measured
    * 2.3x at a 1-in-10 shared-template rate, every extra candidate
    * verify-rejected). Recall boundary, documented: a >= threshold pair
    * is lost only if EVERY band it collides on is hot — at Jaccard 0.8+
    * the pair collides on ~all bands, and a key hot past hundreds of
    * docs is boilerplate (pairwise ~0.5), not a true near-dup family.
    * The hot set itself is tiny and ships as a broadcast anti-join. */
  def lshCandidates(signatures: DataFrame,
      maxBandOcc: Long = Long.MaxValue): DataFrame = {
    val bands0 = bandKeys(signatures)
    val bands =
      if (maxBandOcc == Long.MaxValue) bands0
      else {
        // renamed join keys: hot derives from bands0, and a USING join
        // between a relation and its own aggregate resolves both sides to
        // the SAME attribute ids — the condition degenerates to row=self
        // and the anti-join empties the relation
        val hot = bands0.groupBy("band", "key")
          .agg(count(lit(1)).as("n")).filter(col("n") > maxBandOcc)
          .select(col("band").as("hband"), col("key").as("hkey"))
        bands0.join(broadcast(hot),
          col("band") === col("hband") && col("key") === col("hkey"),
          "left_anti")
      }
    val a = bands.toDF("doc_a", "band", "key")
    val b = bands.toDF("doc_b", "band", "key")
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Above this corpus size the verify-stage bloom reduction engages:
    * ~10 MB of signature rows (shingle set + minhash, ~600 B/doc), the
    * point where Spark stops broadcasting the signature relation and the
    * unfiltered verify joins start shuffling the whole corpus. Below it
    * the bloom's fixed cost (one checkpoint + count + build job, ~0.3 s)
    * buys nothing — the join broadcasts anyway. */
  val BloomVerifyCutoffDocs = 16384L

  /** Exact-Jaccard verification of candidate pairs against the signature
    * relation. At corpus sizes past BloomVerifyCutoffDocs the corpus side
    * is REDUCED before it moves: a fixed-size bloom filter over the
    * candidate doc ids (built distributed, broadcast as bits) filters
    * `sigs` at its cached scan, so the verify joins shuffle
    * O(candidate-doc) shingle sets instead of the whole corpus — the
    * unfiltered shape measured 50 MiB of shuffled shingle arrays at 10x
    * sf0.1 vs 15 MiB reduced (at 100 TB it would be the corpus, twice).
    * Minhash-specific: band collisions are rare, so candidate docs are a
    * small corpus fraction — the embedding near-dup path deliberately
    * does NOT use this (see Similarity.lshNearDup: occupancy-targeted
    * banding puts every vector in some pair, the filter removes nothing).
    * The 1% false-positive rate only admits a few extra docs into the
    * shuffle; the equi-join drops them, so the output — and the DuckDB
    * oracle — is unchanged either way. */
  private def verifiedJaccardPairs(candRaw: DataFrame, sigs: DataFrame,
      threshold: Double, nDocs: Long): DataFrame = {
    val (cand, candSigs) =
      if (nDocs < BloomVerifyCutoffDocs) (candRaw, sigs)
      else {
        // materialize: the bloom build is an extra action over candidates
        val c = Fixpoint.materializedLeaf(candRaw)
        val nCand = c.count()
        // stat.bloomFilter NPEs on an empty frame (null aggregate buffer)
        if (nCand == 0L) (c, sigs)
        else {
          val ids = c.select(col("doc_a").as("id"))
            .unionAll(c.select(col("doc_b").as("id")))
          val bloom = ids.stat.bloomFilter("id", math.max(2L * nCand, 64L), 0.01)
          (c, sigs.filter(GraftFunctions.bloomMightContain(col("doc_id"), bloom)))
        }
      }
    cand
      .join(candSigs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(candSigs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("jacc", GraftFunctions.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jacc") >= threshold)
      .select("doc_a", "doc_b", "jacc")
  }

  /** MinHash+LSH near-duplicate pairs, verified by exact Jaccard on the
    * shingle sets. Output (doc_a, doc_b, jacc) with jacc >= threshold.
    * `maxBandOcc` (default off) engages the band-key postings cap — the
    * boilerplate-regime defense, see [[lshCandidates]]; the skew sweep
    * prices it. */
  def minhashDedup(docs: DataFrame, threshold: Double,
      maxBandOcc: Long = Long.MaxValue): DataFrame =
    // the result (near-dup pairs) is tiny; the leaf lets the heavyweight
    // signature cache release instead of leaking into the caller's session
    Fixpoint.pinned(minhashSignatures(docs)) { (sigs, nDocs) =>
      verifiedJaccardPairs(lshCandidates(sigs, maxBandOcc), sigs, threshold, nDocs)
    }

  /** Containment near-duplicates: pairs where the smaller shingle set sits
    * mostly inside the larger — |A∩B| / min(|A|,|B|) >= threshold. Catches
    * doc-inside-doc duplication that symmetric Jaccard under-scores: a
    * 100-line file pasted into a 10k-line one has Jaccard ≈ 0.01 but
    * containment ≈ 1.0, and training corpora are full of exactly that
    * (quoted articles, vendored code, boilerplate-wrapped reposts).
    *
    * Deliberately NOT the minhash band index: banding's collision rate is
    * a function of Jaccard, and contained-in-bigger pairs have low Jaccard
    * by construction — the index would miss exactly the pairs this
    * operator exists for. Instead, candidates come from a posting-list
    * self-join on the shingle hashes (pairs sharing >= 1 shingle), whose
    * group-count IS the exact intersection size — one shuffle keyed on
    * the shingle hash (partial-aggregated), one keyed on the pair. Exact
    * recall for any threshold > 0. Fan-out is Σ df(h)² over shingle
    * document frequencies; the exactness-preserving scale lever when
    * boilerplate shingles go hot is prefix filtering (PPJoin-style: only
    * each doc's (1-τ)·|A|+1 rarest shingles need to emit candidates),
    * with a lossy df cap as the blunter fallback. */
  def containmentDedup(docs: DataFrame, threshold: Double): DataFrame =
    Fixpoint.pinned(shingleHashes(docs))((sh, _) => containmentAllPairs(sh, threshold))

  private def containmentAllPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    val posts = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    posts.toDF("doc_a", "h")
      .join(posts.toDF("doc_b", "h"), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Each doc's L rarest shingles in the canonical global rarity order
    * (df, h), with L = n - floor(threshold·n) + 1. The +1 keeps the
    * length one past the theoretical minimum on non-integer τ·n, so float
    * jitter in floor() can only LENGTHEN a prefix (more candidates),
    * never break exactness. Output (doc_id, h, n). */
  private[graft] def prefixPostings(posts: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("h"))
    posts.join(dfreq, "h")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - floor(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("h"), col("n"))
  }

  /** Containment near-duplicates with PPJoin-style prefix filtering — the
    * exactness-preserving scale path [[containmentDedup]]'s scaladoc
    * promises for hot-shingle corpora. A pair with |A∩B| >= τ·|A| (A the
    * smaller set) must share a shingle among A's L = |A| - floor(τ·|A|)
    * + 1 rarest shingles: if every shared shingle sat outside that
    * prefix, the overlap could be at most |A| - L < τ·|A|. Candidates are
    * therefore (smaller side's prefix postings) ⋈ (full postings) — fan-
    * out Σ_h df_prefix(h)·df(h) instead of Σ_h df(h)². Hot boilerplate
    * shingles rank LAST in every doc's rarity order and fall out of the
    * prefixes, so exactly the inputs that melt the all-pairs posting join
    * stay linear. Verification re-intersects the full shingle sets, so
    * the output — and the DuckDB oracle, shared with q_dedup_containment
    * — is identical. PipelineSpec asserts pair-for-pair equality with
    * [[containmentDedup]] and the fan-out reduction on a boilerplate
    * fixture.
    *
    * Regime note (measured, 10x sf0.1): on a LOW-df corpus this path is
    * ~3x slower than the all-pairs count (6.3 s vs 2.3 s) — the df rank
    * window and the shingle-array re-intersection only buy anything when
    * Σ df(h)² melts. Pick by corpus: boilerplate-heavy (crawl dumps,
    * template sites) → prefix; already-clean text → [[containmentDedup]].
    * The honest scale default for raw web corpora is this one: one hot
    * shingle with df = 10^6 costs the all-pairs join 10^12 rows. */
  private def containmentPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    val posts = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val cand = prefixPostings(posts, sizes, threshold).toDF("pd", "h", "n_p")
      .join(posts.toDF("fd", "h"), Seq("h"))
      .join(sizes.toDF("fd", "n_f"), "fd")
      // the prefix side must be the (weakly) smaller set; equal sizes are
      // caught from both directions and collapse in the distinct
      .filter(col("pd") =!= col("fd") && col("n_p") <= col("n_f"))
      .select(least(col("pd"), col("fd")).as("doc_a"),
        greatest(col("pd"), col("fd")).as("doc_b"))
      .distinct()
    cand
      .join(sh.toDF("doc_a", "hs_a"), "doc_a")
      .join(sh.toDF("doc_b", "hs_b"), "doc_b")
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      // identical arithmetic to containmentDedup: double(inter) / long(min)
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  def containmentDedupPrefix(docs: DataFrame, threshold: Double): DataFrame =
    Fixpoint.pinned(shingleHashes(docs))((sh, _) => containmentPrefix(sh, threshold))

  /** Occupancy-weighted mean document frequency of the shingle postings,
    * Σdf² / Σdf — the expected number of other postings a random posting
    * meets in the all-pairs join, i.e. its per-row fan-out. The regime
    * statistic: corpora whose dfs do NOT grow with corpus size (clean
    * text; measured 2.1 at sf0.01, 10.7 at sf0.1, max df 25) keep it
    * flat, while boilerplate corpora (hot shingles with df ∝ n_docs)
    * send it to the corpus scale. One narrow (h, df) aggregate over the
    * postings — 8-byte keys, partial-aggregated; the same df relation the
    * prefix path's rarity ranking needs anyway. */
  private[graft] def containmentFanoutRatio(sh: DataFrame): Double = {
    val r = sh.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("s2"),
        coalesce(sum(col("df")), lit(0L)).as("s1"))
      .first()
    if (r.getLong(1) == 0L) 0.0 else r.getLong(0).toDouble / r.getLong(1)
  }

  /** Fan-out ratio above which [[containmentDedupAuto]] routes to the
    * prefix-filtered path. Calibration (BASELINE.md): every corpus where
    * all-pairs measured faster sits at ratio <= ~11 (sf0.1 documents:
    * 10.7, all-pairs 1.9 s vs prefix 1.7 s — a tie; 10x replicas: same
    * ratio, all-pairs 3x faster), while the regime prefix exists for —
    * df ∝ n_docs boilerplate — crosses any fixed bound as the corpus
    * grows (the PipelineSpec fixture measures in the hundreds). 32 leaves
    * margin on the all-pairs side, where misrouting costs the measured
    * ~3x, and trips early on genuinely hot corpora, where all-pairs is
    * the quadratic cliff. */
  val ContainmentAutoRatio = 32.0

  /** Single containment entry point: measures [[containmentFanoutRatio]]
    * on the corpus's shingle postings and routes to [[containmentDedup]]'s
    * all-pairs posting join (low-df regime) or the PPJoin prefix path
    * (hot-shingle regime). Output is identical either way — both verify
    * against the full shingle sets — so the route is invisible to the
    * result (and to the shared DuckDB oracle); only the join fan-out
    * changes. The decision costs one postings aggregate on the pinned
    * shingle cache, ~the prefix path's own df pass. */
  def containmentDedupAuto(docs: DataFrame, threshold: Double): DataFrame =
    Fixpoint.pinned(shingleHashes(docs)) { (sh, _) =>
      if (containmentFanoutRatio(sh) > ContainmentAutoRatio)
        containmentPrefix(sh, threshold)
      else containmentAllPairs(sh, threshold)
    }

  /** (doc_id, sim) — SimBits-bit simhash over the word multiset (order-
    * and permutation-insensitive), via the codegen'd SimHashExpr kernel. */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), GraftFunctions.simHash(col("text")).as("sim"))

  /** SimHash near-duplicates: pairs within `maxHamming` bits. Candidate
    * generation via band equi-join, *exact* by pigeonhole (bands >
    * maxHamming leaves one band intact), with the band count DERIVED from
    * the radius (TextHash.simBandsFor): the fewest exact bands maximize
    * key width, so raw candidate volume n²·bands/2^width is minimized for
    * the identical output — radius 3 gets 4x12-bit bands (4096-value
    * keys), not a fixed coarse banding.
    *
    * Shape note (measured, sf0.1): even with derived bands the raw
    * candidates outnumber survivors ~40:1, so the verify filter runs
    * BEFORE the dedup shuffle — the signature rides the band rows at 8 B
    * and hamming is two instructions, so verification is free at the join
    * site and the distinct shuffles only survivors. The opposite shape
    * (distinct ids first, re-join signatures after — right for minhash,
    * whose verify needs the full shingle sets) shuffles every raw pair
    * and measures 4-5x slower. */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nBands = simBandsFor(maxHamming)
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"), expr(simBandSpark("sim", b, nBands)).as("key")))
    // the pinned signatures feed both join sides from one simhash kernel
    // pass; the near-dup pairs are tiny, so the cache releases behind them
    Fixpoint.pinned(simhashSignatures(docs)) { (sigs, _) =>
      val bands = sigs
        .select(col("doc_id"), col("sim"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
      val a = bands.toDF("doc_a", "sim_a", "band", "key")
      val b = bands.toDF("doc_b", "sim_b", "band", "key")
      a.join(b, Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
        .filter(col("hamming") <= maxHamming) // verify BEFORE the dedup shuffle
        .select("doc_a", "doc_b", "hamming").distinct()
    }
  }

  /** Group near-duplicate *pairs* into duplicate *clusters* via connected
    * components: each document maps to the smallest doc_id in its duplicate
    * group (the surviving representative). The full dedup story:
    * minhashDedup finds pairs, this picks one keeper per transitive group.
    */
  def dedupClusters(pairs: DataFrame,
      maxIter: Int = graft.graph.Graphs.DefaultCcRounds): DataFrame =
    graft.graph.Graphs.connectedComponents(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), maxIter)
      .select(col("vertex").as("doc_id"), col("label").as("keeper"))

  /** The end-to-end dedup operation: remove every document that is a
    * non-keeper member of a near-duplicate cluster. Keeps cluster keepers
    * and all documents with no near-duplicate. The anti-join ships only
    * loser ids — the document payloads never shuffle. */
  def deduplicate(docs: DataFrame, threshold: Double): DataFrame = Fixpoint.scope {
    val losers = dedupClusters(minhashDedup(docs, threshold))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Incremental dedup: merge a new `incoming` batch into an already-
    * deduplicated `existing` corpus. Candidate generation band-joins the
    * incoming docs' band keys against the full band-key relation — never
    * existing-vs-existing, the term that dominates full recomputation when
    * |incoming| << |existing| (at 100 TB the band keys and signatures of
    * `existing` come from the stored index, so the only per-batch work is
    * linear in the batch plus its candidates).
    *
    * Exactly equivalent to `deduplicate(existing ∪ incoming)`: existing
    * keepers carry no above-threshold pairs among themselves (any such
    * adjacent pair would have demoted the larger id to loser in >= 1
    * HashMin round), so restricting candidates to at-least-one-new loses
    * no edge of the union's pair graph — connected components, keepers,
    * and survivors are identical, including clusters where a new doc
    * bridges two previously-independent existing keepers. The oracle
    * checks this equality literally (dedup-of-union SQL).
    */
  def incrementalDeduplicate(existing: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame =
    incrementalDeduplicate(existing, incoming, threshold, minhashSignatures(existing))

  /** Stored-index variant: `existingIndex` is the persisted signature
    * relation (doc_id, hs, mh) of `existing` — exactly what
    * [[minhashSignatures]] produced when those documents were first
    * ingested. Only the incoming batch is shingled and minhashed; the
    * existing corpus's TEXT is never re-read by the signature stage (it is
    * touched once more by the final survivor anti-join, which ships loser
    * ids only). This is the steady-state 100 TB shape: per-batch cost is
    * linear in the batch plus its candidates, and the recompute twin above
    * is the equality oracle — q_dedup_incremental_idx hash-checks that
    * stored-index and recompute produce the identical corpus. Band keys
    * are re-derived from `mh` in-plan (a pure integer projection of the
    * signature — no text involved); a pipeline that also stores the band
    * relation can skip even that by keeping [[bandKeys]] output alongside. */
  def incrementalDeduplicate(existing: DataFrame, incoming: DataFrame,
      threshold: Double, existingIndex: DataFrame): DataFrame = Fixpoint.scope {
    val pairs = incrementalNearDupPairs(existingIndex,
      minhashSignatures(incoming), threshold)
    val losers = dedupClusters(pairs)
      .filter(col("doc_id") =!= col("keeper")).select("doc_id")
    existing.unionByName(incoming).join(losers, Seq("doc_id"), "left_anti")
  }

  /** Verified near-dup pairs (doc_a < doc_b, Jaccard >= threshold) of an
    * incoming signature batch against a stored signature index — the
    * candidate stage of [[incrementalDeduplicate]] exposed on its own for
    * screen-style pipelines (the streaming curate ingest) that apply a
    * different drop rule than CC-keeper. Band-joins incoming-vs-(index ∪
    * incoming), never index-vs-index; pairs wholly inside the index cannot
    * appear. Output is eagerly materialized (tiny), so the transient
    * signature cache never leaks into the caller's session. */
  def incrementalNearDupPairs(existingIndex: DataFrame, incomingSigs: DataFrame,
      threshold: Double): DataFrame =
    Fixpoint.pinned(existingIndex.select("doc_id", "hs", "mh")
        .unionByName(incomingSigs.select("doc_id", "hs", "mh"))) { (sigs, nDocs) =>
      val allBands = bandKeys(sigs)
      // the incoming side of the band join = stored index rows for new ids
      val newBands = allBands.join(
        incomingSigs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val cand = newBands.toDF("na", "band", "key")
        .join(allBands.toDF("nb", "band", "key"), Seq("band", "key"))
        .filter(col("na") =!= col("nb"))
        .select(least(col("na"), col("nb")).as("doc_a"),
          greatest(col("na"), col("nb")).as("doc_b"))
        .distinct()
      verifiedJaccardPairs(cand, sigs, threshold, nDocs)
    }

  /** Priority-aware canonical selection: given duplicate clusters (from
    * dedupClusters) and a per-document priority (lower = more trusted
    * source), pick each cluster's canonical document by (priority, doc_id)
    * instead of plain min-id — the "keep the Wikipedia copy, drop the
    * crawl mirror" policy every multi-source training corpus needs. The
    * ordering key packs (priority, doc_id) into one int64 so the argmin is
    * a single min_by with a deterministic total order; `priority` must be
    * < ~92 for ids up to 1e8 (documented bound, fine for source ranks).
    * Output: (cluster, canonical, n_members), one row per duplicate
    * cluster. */
  def canonicalByPriority(docs: DataFrame, clusters: DataFrame,
      priority: org.apache.spark.sql.Column): DataFrame =
    clusters.join(docs, "doc_id")
      .withColumn("okey", priority * lit(100000000L) + col("doc_id"))
      .groupBy(col("keeper").as("cluster"))
      .agg(min_by(col("doc_id"), col("okey")).as("canonical"),
        count(lit(1)).as("n_members"))

  /** Exact-substring dedup (the Lee-et-al. "Deduplicating Training Data
    * Makes Language Models Better" signal, suffix-array-free): maximal
    * word spans of >= `minLen` words shared VERBATIM between two
    * documents, at ANY offset. Fixed-window chunk hashing
    * ([[TextAnalysis.chunkDupStats]]) only sees window-ALIGNED copies — a
    * span shifted by a few characters straddles different window
    * boundaries in each doc and every chunk hash differs; this operator is
    * shift-invariant by construction (PipelineSpec pins a shifted span the
    * chunk pass provably misses).
    *
    * Formulation (seed-and-extend on diagonals, the sorted-k-gram-run
    * equivalent of a suffix-array scan, distributed as joins):
    *   1. per-position k-word gram keys (double-fold int64,
    *      [[TextHash.gramKeysSpark]] — collision ~1e-18/pair, the 128-bit
    *      fingerprint exactness convention);
    *   2. postings cap: gram keys occurring > `maxOcc` times corpus-wide
    *      are dropped from anchoring (the join blowup per gram is
    *      occurrences², so the cap bounds the self-join exactly like
    *      PPJoin's prefix bound; boilerplate a span THROUGH a dropped
    *      gram splits into shorter runs — a documented regime boundary,
    *      the k-truss density-guard pattern. The hot set itself is tiny,
    *      so it ships as a broadcast anti-join);
    *   3. cross-doc equi-join on the gram key (doc_a < doc_b);
    *   4. runs: matches at constant diagonal (pos_a - pos_b) with
    *      consecutive positions form maximal runs — one window + one
    *      groupBy on (doc_a, doc_b, diagonal); a run of c grams is a
    *      shared span of c + k - 1 words.
    *
    * Scale: the only corpus-wide shuffles carry (key, doc, pos) triples
    * (24 B/word — the price every substring-level method pays; a suffix
    * array is 8+ B/TOKEN plus a global sort) and the join output, which
    * the postings cap bounds. Payload text never moves.
    * Output (doc_a, doc_b, a_start, b_start, span_words), 1-based word
    * positions, totally ordered. */
  def substringSpans(docs: DataFrame, k: Int = 8, minLen: Int = 16,
      maxOcc: Long = 1000L): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    // materialize the anchor relation once: the self-join's two sides would
    // otherwise each re-run the scan + gram kernel + hot-count aggregation
    // (the minhash pipeline's sigs-checkpoint precedent) — at corpus scale
    // text is the dominant read and must be touched once
    val kept = Fixpoint.materializedLeaf(anchorGrams(docs, k, maxOcc))
    val matches = kept.toDF("h", "doc_a", "pa")
      .join(kept.toDF("h", "doc_b", "pb"), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "pa", "doc_b", "pb")
    diagonalRuns(matches, k, minLen)
  }

  /** (h, doc_id, pos) raw per-position gram keys — the substring-dedup
    * family's STORED INDEX relation (uncapped; the postings cap is a
    * query-time decision over combined counts, so the index stays
    * split-agnostic). Codegen'd kernel (GramKeysExpr — one pass, word
    * hashes computed once); FunctionsSpec pins bit-equivalence to the
    * TextHash.gramKeysSpark HOF twin the oracle replays. */
  def substringIndex(docs: DataFrame, k: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), posexplode(GraftFunctions.gramKeys(col("text"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))

  /** [[substringIndex]] with the hot-gram postings cap applied — the
    * shared anchor relation of the batch substring-dedup operators. */
  private def anchorGrams(docs: DataFrame, k: Int, maxOcc: Long): DataFrame = {
    val grams = substringIndex(docs, k)
    val hot = grams.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc).select("h")
    grams.join(broadcast(hot), Seq("h"), "left_anti")
  }

  /** Incremental exact-substring dedup — the append-only-ingest face of
    * [[substringSpans]] (the family's q_dedup_incremental_idx pattern):
    * spans between the incoming batch and an EXISTING corpus represented
    * by its stored gram index ([[substringIndex]] — only the incoming
    * batch is ever tokenized/keyed per ingest), plus incoming-incoming
    * spans; existing-existing pairs are never re-examined. Provably
    * equals the batch run over the union RESTRICTED to pairs touching at
    * least one incoming doc (PipelineSpec enforces; the oracle replays
    * the union with that restriction), because the postings cap is
    * computed over the UNION's combined gram counts — the stored index's
    * counts plus the batch's — exactly as the batch run would see them
    * (a per-side cap would diverge the moment a gram is hot only in the
    * union; a spec fixture pins this).
    * Scale: per ingest, gram-keying cost is batch-sized; the join ships
    * index rows only for gram keys the batch actually carries. */
  def incrementalSubstringSpans(index: DataFrame, incoming: DataFrame,
      k: Int = 8, minLen: Int = 16, maxOcc: Long = 1000L): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    // batch text gram-keyed ONCE (counts + kept + two join sides reuse it)
    val inc = Fixpoint.materializedLeaf(substringIndex(incoming, k))
    val unionCounts = index.groupBy("h").agg(count(lit(1)).as("c1"))
      .join(inc.groupBy("h").agg(count(lit(1)).as("c2")), Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("c2"), lit(0L))).as("occ"))
    val hot = unionCounts.filter(col("occ") > maxOcc).select("h")
    val keptInc = inc.join(broadcast(hot), Seq("h"), "left_anti")
    val keptEx = index.join(broadcast(hot), Seq("h"), "left_anti")
    val keptAll = keptEx.unionByName(keptInc)
    // each qualifying unordered pair exactly once: (incoming as the lower
    // id) vs everything, plus (existing as the lower id) vs incoming —
    // never existing-existing
    val mA = keptInc.toDF("h", "doc_a", "pa")
      .join(keptAll.toDF("h", "doc_b", "pb"), "h")
      .filter(col("doc_a") < col("doc_b"))
    val mB = keptEx.toDF("h", "doc_a", "pa")
      .join(keptInc.toDF("h", "doc_b", "pb"), "h")
      .filter(col("doc_a") < col("doc_b"))
    diagonalRuns(mA.unionByName(mB).select("doc_a", "pa", "doc_b", "pb"), k, minLen)
  }

  /** maximal diagonal runs over (doc_a, pa, doc_b, pb) gram matches: one
    * window + one groupBy on (doc_a, doc_b, pa - pb); a run of c grams is
    * a span of c + k - 1 words. */
  private def diagonalRuns(matches: DataFrame, k: Int, minLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy("pa")
    matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"), col("grp"))
      .agg(min("pa").as("a_start"), (count(lit(1)) + (k - 1)).as("span_words"))
      .filter(col("span_words") >= minLen)
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"), col("span_words"))
  }

  /** Per-document duplicated-span coverage — the quality-filter face of
    * [[substringSpans]]: for every document, how many of its words sit
    * inside SOME cross-doc shared span ≥ minLen (both sides of every span
    * count), as an absolute count and a fraction. The span intervals per
    * doc can overlap (one region shared with many partners), so they are
    * coalesced ([[graft.ops.Intervals]] gaps-and-islands — same single-
    * sort shape) before summing. A doc with high cov_frac is boilerplate
    * or a stitched copy even when no single partner makes it a near-dup —
    * the per-doc decision signal the pairwise span list doesn't directly
    * give. Output (doc_id, n_words, n_cov, cov_frac) for EVERY doc
    * (zero-coverage docs included — it's a filter signal), cov_frac one
    * IEEE division of exact int64 counts. */
  def substringCoverage(docs: DataFrame, k: Int = 8, minLen: Int = 16,
      maxOcc: Long = 1000L): DataFrame = {
    val spans = substringSpans(docs, k, minLen, maxOcc)
    val sides = spans.select(col("doc_a").as("doc_id"), col("a_start").as("s"),
        (col("a_start") + col("span_words") - 1).as("e"))
      .unionByName(spans.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_words") - 1).as("e")))
    val cov = graft.ops.Intervals.coalesce(sides, "doc_id", "s", "e")
      .groupBy("doc_id")
      .agg(sum(col("t_end") - col("t_start") + 1).as("n_cov"))
    docs.select(col("doc_id"),
        expr(s"size(${wordsSpark("text")})").cast("long").as("n_words"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"),
        round(coalesce(col("n_cov"), lit(0L)).cast("double") / col("n_words"), 6)
          .as("cov_frac"))
  }

  /** Substring SCRUB — the dedup ACTION over [[substringSpans]] (Lee et
    * al. 2022 remove all but one copy of each duplicated span; this is
    * that, at word granularity with the dedup family's min-id-keeper
    * convention): every span's LATER side (doc_b — doc_a < doc_b by
    * construction, so the lowest doc id always keeps its copy; a chain
    * doc1~doc2~doc3 sharing one span scrubs it from 2 and 3, keeping
    * exactly one surviving occurrence) has its covered word positions
    * removed from the text. Loser intervals per doc are coalesced
    * ([[graft.ops.Intervals]]) and shipped as a per-doc array (spans per
    * doc are few — bounded by partners × regions, not corpus size), and
    * the rewrite is one codegen'd filter-by-position projection per row —
    * payload text is touched exactly once, at its own scan.
    * Output (doc_id, n_words, n_removed, text_scrubbed) for EVERY doc
    * (untouched docs ride through with n_removed = 0). */
  def substringScrub(docs: DataFrame, k: Int = 8, minLen: Int = 16,
      maxOcc: Long = 1000L): DataFrame = {
    val spans = substringSpans(docs, k, minLen, maxOcc)
    val loserIv = spans.select(col("doc_b").as("doc_id"), col("b_start").as("s"),
      (col("b_start") + col("span_words") - 1).as("e"))
    scrubByIntervals(docs, graft.ops.Intervals.coalesce(loserIv, "doc_id", "s", "e"))
  }

  /** Shared rewrite of the scrub family: remove each doc's words at the
    * positions covered by its coalesced `(doc_id, t_start, t_end)`
    * interval rows ([[graft.ops.Intervals.coalesce]] output). Intervals
    * per doc are few — bounded by partners × regions (pairwise scrub) or
    * template regions (boilerplate scrub), not corpus size — so they ship
    * as a per-doc array, and the rewrite is one codegen'd
    * filter-by-position projection per row: payload text is touched
    * exactly once, at its own scan. Docs with no intervals ride through
    * with n_removed = 0. Output (doc_id, n_words, n_removed,
    * text_scrubbed) for EVERY doc. */
  private def scrubByIntervals(docs: DataFrame, intervals: DataFrame): DataFrame = {
    val ivList = intervals
      .groupBy("doc_id")
      // membership test below is order-independent, so collect_list's
      // nondeterministic order is harmless
      .agg(collect_list(struct(col("t_start"), col("t_end"))).as("iv"))
    docs.join(ivList, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("iv"))
      .withColumn("kept", expr(
        """filter(transform(split(trim(text), ' '), (w, i) -> named_struct('w', w, 'p', CAST(i + 1 AS BIGINT))),
          |       s -> iv IS NULL OR NOT exists(iv, r -> s.p >= r.t_start AND s.p <= r.t_end))""".stripMargin))
      .select(col("doc_id"),
        expr(s"size(${wordsSpark("text")})").cast("long").as("n_words"),
        (expr(s"size(${wordsSpark("text")})") - size(col("kept"))).cast("long").as("n_removed"),
        expr("concat_ws(' ', transform(kept, s -> s.w))").as("text_scrubbed"))
  }

  /** Boilerplate scrub — the CORPUS-FREQUENCY face of [[substringScrub]]
    * (the CCNet / RefinedWeb template-removal step): every word position
    * whose k-gram key appears in ≥ minDf DISTINCT documents is boilerplate
    * (site chrome, license headers, navigation footers), and its covered
    * interval is removed from EVERY document — no keeper, unlike the
    * pairwise span scrub, because a template shared by hundreds of pages
    * is noise in all of them rather than content in one.
    *
    * Scale: structurally CHEAPER than the pairwise substring family —
    * there is no position-to-position join at all. The corpus-wide work is
    * (a) the gram relation (24 B/word triples, the price every
    * substring-level method pays, text touched once via the codegen'd
    * GramKeysExpr kernel), (b) a distinct + count aggregation per gram key
    * (map-side partials), and (c) one semi-join of the gram relation
    * against the boilerplate key set — linear in corpus grams where the
    * pairwise methods are bounded by match fan-out. A hot template (the
    * very thing being removed) makes its gram key's df LARGE but costs one
    * combined row per partition in the count — frequency scrub gets
    * faster, not slower, exactly where pairwise candidate generation
    * blows up. Output (doc_id, n_words, n_removed, text_scrubbed). */
  def boilerplateScrub(docs: DataFrame, k: Int = 8, minDf: Long = 5L): DataFrame = {
    require(minDf >= 2, s"minDf ($minDf) must be >= 2")
    // gram relation materialized once: the df aggregation and the
    // coverage semi-join below both consume it (anchorGrams precedent)
    val grams = Fixpoint.materializedLeaf(substringIndex(docs, k))
    val boiler = grams.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("h")
    val cov = grams.join(boiler, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + k - 1).as("e"))
    scrubByIntervals(docs, graft.ops.Intervals.coalesce(cov, "doc_id", "s", "e"))
  }

  /** The boilerplate family's STORED INDEX: gram key → distinct-doc count
    * — one row per distinct corpus gram, sum-mergeable with any DISJOINT
    * batch's counts (append-only ingest guarantees disjoint doc sets, so
    * per-side distinct counts add exactly). */
  def boilerplateIndex(docs: DataFrame, k: Int = 8): DataFrame =
    substringIndex(docs, k).select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))

  /** Incremental boilerplate scrub — the arrival-time face of
    * [[boilerplateScrub]]: scrub an incoming batch against the UNION
    * document frequency (stored [[boilerplateIndex]] counts + the batch's
    * own distinct counts — exact, because append-only doc sets are
    * disjoint), without re-keying any existing text. Matches the batch
    * run over the union RESTRICTED to the incoming docs by construction
    * (same df threshold, same intervals — a spec fixture pins it; the
    * oracle replays the union with the restriction). The one semantic
    * edge is inherent to ONLINE frequency scrubbing and documented (the
    * substringIngest prefix-count convention): a gram that crosses minDf
    * only in a LATER batch was below threshold when earlier docs were
    * emitted, so earlier emissions keep it — frequency is a prefix
    * property at arrival time, by contract.
    * Scale: per ingest, gram-keying is batch-sized; the index join ships
    * stored counts only for gram keys the batch carries. */
  def incrementalBoilerplateScrub(index: DataFrame, incoming: DataFrame,
      k: Int = 8, minDf: Long = 5L): DataFrame = {
    require(minDf >= 2, s"minDf ($minDf) must be >= 2")
    val grams = Fixpoint.materializedLeaf(substringIndex(incoming, k))
    val bDf = grams.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("b_df"))
    val boiler = bDf
      .join(index.withColumnRenamed("df", "i_df"), Seq("h"), "left")
      .filter(coalesce(col("i_df"), lit(0L)) + col("b_df") >= minDf)
      .select("h")
    val cov = grams.join(boiler, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + k - 1).as("e"))
    scrubByIntervals(incoming, graft.ops.Intervals.coalesce(cov, "doc_id", "s", "e"))
  }

  /** Intra-document repeated spans — the self-similarity twin of
    * [[substringSpans]] (the "model loops" / copy-paste-within-doc signal
    * [[TextAnalysis.repetition]]'s bigram fractions summarize; this gives
    * the actual spans): maximal word spans ≥ minLen occurring at least
    * twice WITHIN one document. Same anchor grams; the join pairs
    * positions of the SAME doc (pa < pb), so each repeat reports the
    * earlier occurrence at a_start and the later at b_start. A doc
    * repeating with period p < span length shows as overlapping spans on
    * diagonal −p — reported as-is (the period is readable from
    * b_start − a_start). Output (doc_id, a_start, b_start, span_words),
    * totally ordered by the caller's ORDER BY. */
  def selfRepeatSpans(docs: DataFrame, k: Int = 8, minLen: Int = 12,
      maxOcc: Long = 1000L): DataFrame = {
    require(minLen >= k, s"minLen ($minLen) must be >= k ($k)")
    val kept = anchorGrams(docs, k, maxOcc)
    val matches = kept.toDF("h", "doc_a", "pa")
      .join(kept.toDF("h", "doc_b", "pb"), "h")
      .filter(col("doc_a") === col("doc_b") && col("pa") < col("pb"))
      .select("doc_a", "pa", "doc_b", "pb")
    diagonalRuns(matches, k, minLen)
      .select(col("doc_a").as("doc_id"), col("a_start"), col("b_start"),
        col("span_words"))
  }

  /** Brute-force n-gram Jaccard over a deterministic doc_id sample — the
    * didactic quadratic baseline the LSH path replaces at scale. `sampleMod`
    * bounds the pair space (docs with doc_id % sampleMod == 0). */
  def ngramJaccard(docs: DataFrame, threshold: Double, sampleMod: Int): DataFrame = {
    val hs = shingleHashes(docs.filter(col("doc_id") % sampleMod === 0))
    val a = hs.toDF("doc_a", "hs_a")
    val b = hs.toDF("doc_b", "hs_b")
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jacc", GraftFunctions.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jacc") >= threshold)
      .select("doc_a", "doc_b", "jacc")
  }

  /** Winnowed fingerprint relation (doc_id, fp) — Schleimer/Wilkerson/
    * Aiken SIGMOD 2003 local fingerprinting (the MOSS screen): per doc,
    * the distinct minima of every w-window over the per-position k-gram
    * hash stream, ties to the rightmost position (robust winnowing).
    * Guarantees: any shared run of w + k - 1 words contributes at least
    * one COMMON selected fingerprint (the window-coverage theorem), at
    * ~2/(w+1) the density of the full gram index — winnowing IS a
    * correctness-bounded sampler of [[substringIndex]], shrinking the
    * posting relation ~(w+1)/2-fold before any join. Entirely per-row
    * array arithmetic (no shuffle until the fp equi-join); the hot-gram
    * hazard and its postings-cap defense are the substring family's,
    * applied to a relation (w+1)/2 times smaller. */
  def winnowIndex(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    // codegen'd kernel (WinnowSelectExpr — one pass, word hashes computed
    // once); FunctionsSpec pins bit-equivalence to the composed
    // winnowGramsSpark + winnowSelectSpark HOF twin the oracle replays
    // (the HOF path measured 17-20 s vs ~1 s at sf0.1 — the GramKeysExpr
    // lesson applied on day one)
    docs.select(col("doc_id"),
      explode(GraftFunctions.winnowSelect(col("text"), k, w)).as("fp"))

  /** Cross-doc winnow candidate pairs: docs sharing >= minShared distinct
    * selected fingerprints, with the shared count as the match score —
    * the coverage guarantee makes this a recall-bounded screen for shared
    * spans of >= w + k - 1 words. Output (doc_a, doc_b, shared). */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 4L): DataFrame =
    winnowPairsFrom(Fixpoint.materializedLeaf(winnowIndex(docs, k, w)), minShared)

  /** [[winnowPairs]] with a fingerprint-df cap — the boilerplate-regime
    * defense (the minhash band-occupancy-cap pattern applied to winnow
    * postings): a selected print carried by more than `maxDf` documents is
    * a template signature, not near-dup evidence, and its posting list
    * alone drives the pair join quadratic. Dropping it bounds per-print
    * fan-out at maxDf²; true near-dup families sit far below any sane cap.
    * Engine cap and oracle HAVING must agree. */
  def winnowPairs(docs: DataFrame, k: Int, w: Int, minShared: Long,
      maxDf: Long): DataFrame = {
    val fps = Fixpoint.materializedLeaf(winnowIndex(docs, k, w))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    winnowPairsFrom(fps.join(broadcast(hot), Seq("fp"), "left_anti"), minShared)
  }

  /** Duplication ratio (corpus rows / distinct exact fingerprints) above
    * which [[winnowPairsAuto]] collapses exact-text families before the
    * capped screen. Calibration: real curated corpora sit at ~1.0 (the
    * test tables measure 1.000-1.002); the regime the route exists for —
    * the BASELINE r12 100×-replica note, ratio ~100 — is decades past any
    * value near 1. 2.0 (half the corpus is copies) splits the decades:
    * below it the replica pair space is at most ~n extra pairs (linear,
    * the uncapped output stays sane and the cap stays meaningful); above
    * it replica families are the corpus and exact-dedup-first is the
    * documented answer, now automatic. */
  val WinnowAutoDupRatio = 2.0

  /** Single winnow entry point — closes the capped-vs-uncapped regime
    * fork (BASELINE r12 100× note, the [[containmentDedupAuto]] recipe):
    * on a duplication-heavy corpus the uncapped pair output is quadratic
    * in replicas (real pairs) while the df cap classifies every heavy
    * family as a template and EMPTIES the join. The route is one narrow
    * probe aggregate — corpus rows vs distinct exact (fp, len)
    * fingerprints, 16 B/row, the [[exactByFingerprint]] shuffle
    * discipline:
    *  - ratio <= [[WinnowAutoDupRatio]] (every non-degenerate corpus):
    *    the capped screen runs directly — output, plan, and oracle SQL
    *    are [[winnowPairs]](docs, k, w, minShared, maxDf) verbatim;
    *  - ratio above it: exact-dedup FIRST (the curate pipeline's
    *    documented ordering, now automatic): each exact-text family
    *    collapses to its min-doc_id representative, then the capped
    *    screen runs over representatives — a print's df counts FAMILIES
    *    again, so the cap regains its template meaning, and the
    *    replica-quadratic pair space never exists. Pair ids are
    *    representative ids (one per family, the dedup-cluster keeper
    *    convention). */
  def winnowPairsAuto(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 4L, maxDf: Long = 16L): DataFrame = {
    val fps = docs.select(col("doc_id"),
      GraftFunctions.polyHash(col("text")).as("fp"),
      length(col("text")).as("len"))
    val probe = fps.agg(count(lit(1)).as("n"),
      count_distinct(col("fp"), col("len")).as("nd")).head()
    val (n, nd) = (probe.getLong(0), probe.getLong(1))
    if (nd > 0 && n.toDouble / nd > WinnowAutoDupRatio) {
      val repIds = fps.groupBy("fp", "len").agg(min("doc_id").as("doc_id"))
      val reps = docs.join(repIds.select("doc_id"), Seq("doc_id"), "left_semi")
      winnowPairs(reps, k, w, minShared, maxDf)
    } else winnowPairs(docs, k, w, minShared, maxDf)
  }

  private def winnowPairsFrom(fps: DataFrame, minShared: Long): DataFrame = {
    // bind by NAME: the capped path's USING-join reorders columns, so a
    // positional toDF would silently swap (doc_id, fp) — the
    // walkCooccurrence advice-item class
    val a = fps.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fps.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Incremental winnow screen — the append-only-ingest face of
    * [[winnowPairs]]: pairs between an incoming batch and the corpus
    * represented by its STORED fingerprint index ([[winnowIndex]] output;
    * only the batch is ever tokenized per ingest), plus batch-internal
    * pairs. Winnow selection is doc-LOCAL (no corpus-dependent state at
    * all — unlike the adaptive-band families there is no mask/df to
    * merge), so incremental output ≡ the batch run over the union
    * restricted to pairs touching at least one incoming doc, exactly.
    * Batch-batch matches arrive from both join directions; the
    * least/greatest + distinct-triple normalization counts each shared
    * print once (the incrementalNearDupPairs convention). */
  def incrementalWinnowPairs(storedIndex: DataFrame, incoming: DataFrame,
      k: Int = 3, w: Int = 4, minShared: Long = 4L): DataFrame = {
    val fpsB = Fixpoint.materializedLeaf(winnowIndex(incoming, k, w))
    val all = storedIndex.select("doc_id", "fp").unionByName(fpsB)
    fpsB.select(col("doc_id").as("na"), col("fp"))
      .join(all.select(col("doc_id").as("nb"), col("fp")), "fp")
      .filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("doc_a"),
        greatest(col("na"), col("nb")).as("doc_b"), col("fp"))
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.iterate.Fixpoint

/** Embedding similarity search over an Array[Float] column.
  *
  * Numeric policy: every dot product is a strictly sequential left fold in
  * double precision (the codegen'd DotProductExpr kernel; the DuckDB oracle
  * uses the same fold via list_reduce), so both engines produce
  * bit-identical sums; scores are rounded to 6 decimals to absorb any
  * residual formatting-level difference.
  *
  * Scale design: brute-force is a broadcast nested loop (tiny query side x
  * full corpus scan) — linear in the corpus, embarrassingly parallel, the
  * right baseline even at 100 TB when the query set is small. The LSH path
  * (random signed hyperplanes, banded) turns all-pairs search into an
  * equi-join on bucket keys — the candidate set shrinks by the bucket
  * occupancy factor while recall is tunable via bands.
  */
object Similarity {
  /** hyperplane count = HpBands bands x HpBandBits bits (the fixed-width
    * scheme used by the top-k search paths, where the query side is small
    * by contract and bucket occupancy is not the scaling risk) */
  val HpBands = 4
  val HpBandBits = 4
  val NumHyperplanes: Int = HpBands * HpBandBits

  /** [[hardNegatives]] semi-hard band defaults — THE single definition:
    * PipelineQueries' catalog constants (and thus the oracle SQL
    * literals) reference these, so a caller relying on the defaults can
    * never silently diverge from the oracle (ADVICE r12). */
  val DefaultHardNegCeil = 0.30
  val DefaultHardNegFloor = 0.05

  /** Near-dup (corpus self-join) banding: corpus-size-ADAPTIVE band width.
    * Fixed-width bands make the self-join quadratic — bucket occupancy is
    * n/2^bits, so candidate pairs grow as n²/2^bits; the 10x inflation
    * sweep measured exactly that (26x at 4 fixed bits). The key width
    * instead follows the corpus: bits(n) = smallest b in [NdMinBits,
    * NdMaxBits] with n <= NdTargetBucket << b, which pins expected bucket
    * occupancy near NdTargetBucket and makes candidate generation
    * O(n·NdTargetBucket) per band. The width is chosen IN-PLAN from a
    * count(*) scalar (broadcast, pure integer ladder), so the static
    * DuckDB oracle replays the identical decision from the same count —
    * no driver action, no data-dependent SQL structure. NdBands=8 (vs 4)
    * buys back band-level recall lost to narrower buckets at small n and
    * keeps the candidate screen recall-primary at wide widths. */
  val NdBands = 8
  val NdMinBits = 4
  val NdMaxBits = 16
  val NdTargetBucket = 64
  /** (corpus-count threshold, mask) ladder, smallest width first */
  val NdMaskLadder: Seq[(Long, Int)] =
    (NdMinBits until NdMaxBits).map(b => (NdTargetBucket.toLong << b, (1 << b) - 1))
  val NdMaxMask: Int = (1 << NdMaxBits) - 1

  /** Deterministic integer hyperplane coefficient for (hyperplane t, dim d):
    * pseudo-random in [-14, 14], computable in SQL on both engines. */
  def coef(t: Int, d: Int): Int = (t * 131 + d * 137) % 29 - 14

  /** sequential-fold dot product of two array columns (Spark SQL expr) */
  def dotSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** signed projection onto hyperplane t (dims indexed 1..dim) */
  def hyperplaneDotSpark(v: String, t: Int, dim: Int): String =
    s"aggregate(transform(sequence(1, $dim), i -> CAST(element_at($v, i) AS DOUBLE) * ((($t * 131 + (i - 1) * 137) % 29) - 14)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"

  /** LSH band key b of vector expr `v`: 4 sign bits packed into an int */
  def bucketKeySpark(v: String, b: Int, dim: Int): String =
    (0 until HpBandBits).map { r =>
      val t = b * HpBandBits + r
      s"IF(${hyperplaneDotSpark(v, t, dim)} >= 0.0, ${1 << r}, 0)"
    }.mkString(" + ")

  // --- DuckDB-dialect twins (same sequential-fold arithmetic) ---
  def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
  def normDuck(a: String): String = s"sqrt(${dotDuck(a, a)})"
  def hyperplaneDotDuck(v: String, t: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($v) + 1), i -> CAST($v[i] AS DOUBLE) * ((($t * 131 + (i - 1) * 137) % 29) - 14))), (acc, x) -> acc + x)"
  def bucketKeyDuck(v: String, b: Int): String =
    (0 until HpBandBits).map { r =>
      val t = b * HpBandBits + r
      s"CASE WHEN ${hyperplaneDotDuck(v, t)} >= 0.0 THEN ${1 << r} ELSE 0 END"
    }.mkString(" + ")

  // --- near-dup adaptive-band twins (coef2 family: (t*73 + d*151) % 31 - 15) ---

  /** signed projection onto near-dup hyperplane t (Spark HOF form — the
    * bit-equivalence twin of the codegen'd NearDupKeysExpr kernel) */
  def ndHyperplaneDotSpark(v: String, t: Int): String =
    s"aggregate(transform(sequence(1, size($v)), i -> CAST(element_at($v, i) AS DOUBLE) * ((($t * 73 + (i - 1) * 151) % 31) - 15)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
  def ndKeySpark(v: String, b: Int): String =
    (0 until NdMaxBits).map { r =>
      val t = b * NdMaxBits + r
      s"IF(${ndHyperplaneDotSpark(v, t)} >= 0.0, ${1 << r}, 0)"
    }.mkString(" + ")
  def ndHyperplaneDotDuck(v: String, t: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($v) + 1), i -> CAST($v[i] AS DOUBLE) * ((($t * 73 + (i - 1) * 151) % 31) - 15))), (acc, x) -> acc + x)"
  def ndKeyDuck(v: String, b: Int): String =
    (0 until NdMaxBits).map { r =>
      val t = b * NdMaxBits + r
      s"CASE WHEN ${ndHyperplaneDotDuck(v, t)} >= 0.0 THEN ${1 << r} ELSE 0 END"
    }.mkString(" + ")

  /** the adaptive width ladder as SQL over a corpus-count expression —
    * identical integer CASE in both engines */
  def ndMaskSql(n: String): String =
    NdMaskLadder.map { case (thr, mask) => s"WHEN $n <= $thr THEN $mask" }
      .mkString("CASE ", " ", s" ELSE $NdMaxMask END")

  /** the same ladder as a Spark Column */
  def ndMaskCol(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    NdMaskLadder.foldRight(lit(NdMaxMask)) { case ((thr, mask), rest) =>
      when(n <= thr, mask).otherwise(rest)
    }

  /** rank candidate pairs (qid, qv, nq, nid, nv, nn) by cosine and keep
    * the top k per query — shared by the brute-force and IVF paths */
  private[pipeline] def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = pairs
      .filter(col("nid") =!= col("qid"))
      .withColumn("score", round(GraftFunctions.dotProduct(col("qv"), col("nv")) / (col("nq") * col("nn")), 6))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("nid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "rn", "nid", "score")
  }

  /** query/corpus sides with norms computed once per vector */
  private[pipeline] def queriesWithNorm(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("nq", GraftFunctions.vecNorm(col("qv")))
  private[pipeline] def corpusWithNorm(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .withColumn("nn", GraftFunctions.vecNorm(col("nv")))

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * Output (qid, rn, nid, score). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(broadcast(queriesWithNorm(queries)).crossJoin(corpusWithNorm(corpus)), k)

  /** Semi-hard negative mining for contrastive embedding training
    * (Schroff et al. CVPR 2015's semi-hard band, batch-global): per anchor,
    * the top-k HARDEST negatives — highest cosine strictly below `ceil`
    * (anything at/above is a presumed positive/near-dup, never a negative)
    * and at/above `floor` (trivially-unrelated vectors teach nothing).
    * The band filter is on the ROUNDED 6-dp score, so the cut is the same
    * IEEE comparison in both engines. Same scan shape as [[bruteForceTopK]]
    * (anchors broadcast, corpus linear, bounded per-anchor heap) — the
    * IVF/LSH bucket routes apply verbatim when the anchor set grows.
    * Output (qid, rn, nid, score). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      ceil: Double = Similarity.DefaultHardNegCeil,
      floor: Double = Similarity.DefaultHardNegFloor): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = broadcast(queriesWithNorm(queries)).crossJoin(corpusWithNorm(corpus))
      .filter(col("nid") =!= col("qid"))
      .withColumn("score",
        round(GraftFunctions.dotProduct(col("qv"), col("nv")) / (col("nq") * col("nn")), 6))
      .filter(col("score") < lit(ceil) && col("score") >= lit(floor))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("nid"))
    banded.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "rn", "nid", "score")
  }

  /** Band `b`'s bucket key: a HpBandBits-wide bit slice of the packed
    * sign-bit column. The SINGLE definition of the index key — lshBuckets
    * (index side) and lshProbes (multiprobe base bucket) must agree bit for
    * bit or probes silently stop matching index keys (recall loss). */
  private def bandKey(hp: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column =
    shiftright(hp, b * HpBandBits) % (1 << HpBandBits)

  /** (vec_id, band, key) — LSH bucket assignment. One codegen'd
    * HyperplaneBitsExpr evaluation packs all sign bits (over the vector's
    * actual length, matching the Duck twin's len(v) iteration); band keys
    * are bit slices of it. */
  def lshBuckets(emb: DataFrame): DataFrame = {
    val bandStructs = (0 until HpBands).map { b =>
      struct(lit(b).as("band"), bandKey(col("__hp"), b).as("key"))
    }
    emb.select(col("vec_id"),
        GraftFunctions.hyperplaneBits(col("embedding")).as("__hp"))
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** (vec_id, band, key) probe set for multiprobe queries: each band's
    * base bucket plus every 1-bit flip of it — the classic multiprobe
    * trick trades a constant fan-out (1 + HpBandBits probes per band) for
    * recall that would otherwise cost more bands and a bigger index. */
  def lshProbes(emb: DataFrame): DataFrame = {
    val probeStructs = (0 until HpBands).flatMap { b =>
      val base = bandKey(col("__hp"), b)
      struct(lit(b).as("band"), base.as("key")) +:
        (0 until HpBandBits).map(r =>
          struct(lit(b).as("band"), base.bitwiseXOR(lit(1 << r)).as("key")))
    }
    emb.select(col("vec_id"),
        GraftFunctions.hyperplaneBits(col("embedding")).as("__hp"))
      .select(col("vec_id"), explode(array(probeStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Multiprobe variant of lshTopK: the query side probes its base bucket
    * and all 1-bit neighbors per band. Same deterministic contract. */
  def lshTopKMultiprobe(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = broadcast(lshProbes(queries).toDF("qid", "band", "key"))
      .join(lshBuckets(corpus).toDF("nid", "band", "key"), Seq("band", "key"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    rankTopK(
      cand.join(queriesWithNorm(queries), "qid")
        .join(corpusWithNorm(corpus), "nid"),
      k)
  }

  /** LSH-bucketed approximate top-k: candidates are corpus vectors sharing
    * at least one band bucket with the query, exactly reranked by cosine.
    * Output (qid, rn, nid, score) — same contract as bruteForceTopK, but
    * the scan is bucket-local instead of corpus-wide. Deterministic (fixed
    * integer hyperplanes), so unlike IVF it admits a bit-exact SQL oracle.
    *
    * Scale design: the query-side buckets are broadcast (queries are small
    * by contract), so candidate generation never shuffles the corpus; the
    * distinct dedups (qid, nid) ids only, and embeddings re-join after. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = broadcast(lshBuckets(queries).toDF("qid", "band", "key"))
      .join(lshBuckets(corpus).toDF("nid", "band", "key"), Seq("band", "key"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    rankTopK(
      cand.join(queriesWithNorm(queries), "qid")
        .join(corpusWithNorm(corpus), "nid"),
      k)
  }

  /** (vec_id, keys) — the FULL-width (NdMaxBits per band) key array for
    * each vector: the stored index an incremental pipeline persists. Full
    * width is the point: when the corpus-size ladder steps to a wider
    * mask, stored rows re-mask with one integer AND ([[maskedBands]]) — no
    * re-hash, no re-scan of the indexed corpus. */
  def ndIndex(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), GraftFunctions.nearDupKeys(col("embedding")).as("keys"))

  /** (vec_id, band, key) from a full-width key relation (vec_id, keys),
    * masked to the adaptive width for ITS OWN count — the in-plan ladder
    * decision (broadcast count(*) scalar) the static oracle replays. */
  private def maskedBands(keyed: DataFrame): DataFrame = {
    val n = keyed.agg(count(lit(1)).as("__n"))
    val bandStructs = (0 until NdBands).map { b =>
      struct(lit(b).as("band"),
        element_at(col("keys"), b + 1).bitwiseAND(col("__mask")).as("key"))
    }
    keyed.crossJoin(broadcast(n))
      .withColumn("__mask", ndMaskCol(col("__n")).cast("long"))
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** (vec_id, band, key) with corpus-size-adaptive key width: one
    * codegen'd NearDupKeysExpr evaluation emits every band's full-width
    * key ([[ndIndex]]); the adaptive mask narrows them in the same
    * projection ([[maskedBands]]). */
  def ndBuckets(emb: DataFrame): DataFrame = maskedBands(ndIndex(emb))

  /** Adaptive mask for a corpus of n vectors — the same ladder decision
    * ndBuckets makes in-plan, evaluated on the driver for contexts (the
    * streaming screen) where the index size is a known static scalar. */
  def maskFor(n: Long): Long =
    NdMaskLadder.collectFirst { case (thr, m) if n <= thr => m.toLong }
      .getOrElse(NdMaxMask.toLong)

  /** Streaming near-dup screen: (incoming vector, near-duplicate index
    * vector, score) pairs for an unbounded vector stream probed against a
    * STATIC indexed corpus — the ingest-time "have we already got this"
    * gate. Stateless by construction (no watermark, no streaming state):
    *  - band keys mask at the INDEX's width — the corpus whose bucket
    *    occupancy matters; an unbounded stream has no count to ladder on;
    *  - the static side carries (vector, norm, full key array) on every
    *    band row, so cosine verification happens at the join site — the
    *    per-band duplication (~NdBands x vector width) is the documented
    *    price of statelessness;
    *  - exact-once per pair WITHOUT a stateful distinct: a join row
    *    survives only at the FIRST band where the pair collides (the
    *    no-earlier-collision conjunction over the two key arrays), so a
    *    pair sharing three buckets still emits one row.
    * Incoming and index id spaces are the caller's contract to keep
    * disjoint. Works identically on batch frames — the streaming≡batch
    * spec drives the same function both ways. */
  def nearDupScreen(incoming: DataFrame, index: DataFrame,
      threshold: Double): DataFrame = {
    val mask = lit(maskFor(index.count())).cast("long")
    def withKeys(df: DataFrame, id: String, v: String, nrm: String, ks: String) =
      df.select(col("vec_id").as(id), col("embedding").as(v),
        GraftFunctions.vecNorm(col("embedding")).as(nrm),
        GraftFunctions.nearDupKeys(col("embedding")).as(ks))
    def bandRows(df: DataFrame, ks: String) = {
      val structs = (0 until NdBands).map(b => struct(lit(b).as("band"),
        element_at(col(ks), b + 1).bitwiseAND(mask).as("key")))
      df.withColumn("bk", explode(array(structs: _*)))
        .withColumn("band", col("bk.band")).withColumn("key", col("bk.key"))
        .drop("bk")
    }
    val idx = bandRows(withKeys(index, "idx_id", "iv", "inorm", "ikeys"), "ikeys")
    val inc = bandRows(withKeys(incoming, "in_id", "nv", "nnorm", "nkeys"), "nkeys")
    val noEarlierCollision = (0 until NdBands).map { b =>
      when(col("band") > b,
        element_at(col("nkeys"), b + 1).bitwiseAND(mask) =!=
          element_at(col("ikeys"), b + 1).bitwiseAND(mask))
        .otherwise(lit(true))
    }.reduce(_ && _)
    inc.join(idx, Seq("band", "key"))
      .filter(noEarlierCollision)
      .withColumn("score", round(
        GraftFunctions.dotProduct(col("nv"), col("iv")) / (col("nnorm") * col("inorm")), 6))
      .filter(col("score") >= threshold)
      .select("in_id", "idx_id", "score")
  }

  /** Incremental near-dup: the pairs a new `incoming` batch adds to an
    * `existing` corpus — exactly `lshNearDup(existing ∪ incoming)`
    * restricted to pairs touching an incoming vector (the existing-vs-
    * existing term, which dominates recomputation when |incoming| <<
    * |existing|, is never generated: the band join runs incoming-side
    * buckets against the full bucket relation only). PipelineSpec proves
    * the restriction equality literally; the DuckDB oracle replays the
    * union pipeline with the at-least-one-new filter.
    *
    * This 3-arg form RECOMPUTES the existing corpus's keys every call —
    * correct, but the wrong steady-state cost; it exists as the equality
    * twin. The stored-index overload below is the production shape. */
  def incrementalNearDup(existing: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame =
    incrementalNearDup(existing, incoming, threshold, ndIndex(existing))

  /** Stored-index variant: `existingIndex` is the persisted full-width key
    * relation (vec_id, keys) of `existing` — [[ndIndex]] output from when
    * those vectors were first ingested. Only the incoming batch pays the
    * hyperplane kernel; the existing corpus's embeddings are re-read ONLY
    * to verify candidate pairs (and candidates are what the band join
    * already bounds). Index stability across growth is why the index
    * stores FULL NdMaxBits-wide keys: the mask derives from the UNION
    * count — the same width the batch twin would choose — and when the
    * ladder steps wider, stored rows re-mask with one integer AND instead
    * of a corpus re-hash. q_dedup_embedding_idx hash-checks stored-index
    * ≡ recompute against the DuckDB union pipeline. */
  def incrementalNearDup(existing: DataFrame, incoming: DataFrame,
      threshold: Double, existingIndex: DataFrame): DataFrame = {
    val all = existing.unionByName(incoming)
    val buckets = Fixpoint.materializedLeaf(maskedBands(
        existingIndex.select("vec_id", "keys").unionByName(ndIndex(incoming))))
    val newBuckets = buckets.join(
      incoming.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val cand = newBuckets.toDF("na", "band", "key")
      .join(buckets.toDF("nb", "band", "key"), Seq("band", "key"))
      .filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("id_a"),
        greatest(col("na"), col("nb")).as("id_b"))
      .distinct()
    val vecs = all.select(col("vec_id"), col("embedding"),
      GraftFunctions.vecNorm(col("embedding")).as("norm"))
    cand
      .join(vecs.toDF("id_a", "va", "na"), "id_a")
      .join(vecs.toDF("id_b", "vb", "nb"), "id_b")
      .withColumn("score", round(GraftFunctions.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** Near-duplicate vector pairs: banded-LSH candidates verified by cosine
    * >= threshold. Output (id_a, id_b, score). Pairs are deduped on ids
    * *before* re-joining vectors, so the distinct never shuffles embeddings.
    * Bands use the adaptive-width scheme (ndBuckets) — candidate volume
    * stays O(n·NdTargetBucket) per band instead of n²/2^bits. */
  /** SemDeDup-style semantic near-dup pairs (the pruning semantics of
    * SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means topic
    * clusters scope the search — only SAME-CLUSTER pairs count as
    * semantic duplicates — and the adaptive LSH banding bounds candidate
    * enumeration inside each cluster, so the pair space is never
    * Σ|cluster|² even when clusters are huge.
    *
    * Clustering is [[VecKMeans.train]]: deterministic seeding + quantized
    * exact-int64 centroid updates make the assignment bit-reproducible
    * across partitionings AND replayable by the DuckDB oracle (the same
    * property q_sim_ivf certifies). Candidates join on
    * (cluster, band, masked key); exact cosine verifies at the pair.
    *
    * At 100 TB: k scales with corpus size (cluster occupancy held
    * roughly constant), assignment is one broadcast-centroid map pass,
    * candidates shuffle by (band, key) exactly like [[lshNearDup]] — the
    * cluster conjunction only REMOVES candidate rows. Returns
    * (cluster, id_a, id_b, score). */
  def semanticNearDupPairs(emb: DataFrame, k: Int, iterations: Int,
      threshold: Double): DataFrame = {
    val cents = VecKMeans.train(emb, k, iterations)
    val assigned = VecKMeans.assign(emb, cents)
    val buckets = Fixpoint.materializedLeaf(ndBuckets(emb).join(assigned, "vec_id"))
    val cand = buckets.toDF("id_a", "band", "key", "cluster")
      .join(buckets.toDF("id_b", "band", "key", "cluster"),
        Seq("band", "key", "cluster"))
      .filter(col("id_a") < col("id_b"))
      .select("cluster", "id_a", "id_b").distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"),
      GraftFunctions.vecNorm(col("embedding")).as("norm"))
    cand
      .join(vecs.toDF("id_a", "va", "na"), "id_a")
      .join(vecs.toDF("id_b", "vb", "nb"), "id_b")
      .withColumn("score", round(
        GraftFunctions.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("score") >= threshold)
      .select("cluster", "id_a", "id_b", "score")
  }

  /** Semantic deduplication: the surviving corpus after SemDeDup-style
    * pruning — a vector is dropped when ANY same-cluster near-dup with a
    * smaller vec_id exists (pair-wise ε-ball pruning, deliberately NOT
    * the transitive-closure clustering of [[graft.pipeline.Dedup]]:
    * SemDeDup removes all-but-one of each tight neighborhood; chaining
    * a–b, b–c with cos(a,c) < t keeps a AND c here). Returns
    * (vec_id, cluster) for every survivor. */
  def semanticDedup(emb: DataFrame, k: Int, iterations: Int,
      threshold: Double): DataFrame = {
    val cents = VecKMeans.train(emb, k, iterations)
    val assigned = VecKMeans.assign(emb, cents)
    val buckets = Fixpoint.materializedLeaf(ndBuckets(emb).join(assigned, "vec_id"))
    val cand = buckets.toDF("id_a", "band", "key", "cluster")
      .join(buckets.toDF("id_b", "band", "key", "cluster"),
        Seq("band", "key", "cluster"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"),
      GraftFunctions.vecNorm(col("embedding")).as("norm"))
    val losers = cand
      .join(vecs.toDF("id_a", "va", "na"), "id_a")
      .join(vecs.toDF("id_b", "vb", "nb"), "id_b")
      .filter(round(
        GraftFunctions.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(losers, Seq("vec_id"), "left_anti")
      .select("vec_id", "cluster")
  }

  /** Cluster-quota diversity sample — topic-balanced selection over the
    * embedding space (the SemDeDup-pipeline companion: where
    * [[semanticDedup]] prunes redundancy INSIDE a cluster, this caps how
    * much any one topic contributes to the selected corpus): assign every
    * vector to its quantized-Lloyd cluster, then keep at most `quota`
    * representatives per cluster, picked by the deterministic
    * hash-priority order (Graphs.priorityKey — pseudo-random but total,
    * so the draw is uniform-ish per cluster, bit-reproducible, and
    * replayable in SQL). A head-heavy topic distribution comes out flat;
    * tail topics survive whole — the "don't let one crawl genre swamp
    * the mixture" lever, downstream of dedup and upstream of the token
    * budget.
    *
    * Scale: assignment is one broadcast-centroid map pass (k centroids);
    * the per-cluster cut is the row_number ≤ quota idiom over a
    * vertex-sized relation, which WindowTopKRewrite lowers to the
    * bounded-heap operator — per-partition top-quota partials cap the
    * shuffle at quota rows/cluster/partition, no full sort, no skew
    * hazard from a giant cluster. Returns (cluster, rn, vec_id). */
  def clusterQuotaSample(emb: DataFrame, k: Int, iterations: Int,
      quota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = VecKMeans.train(emb, k, iterations)
    val assigned = VecKMeans.assign(emb, cents)
    val w = Window.partitionBy("cluster").orderBy(asc("pkey"), asc("vec_id"))
    assigned
      .withColumn("pkey",
        col("vec_id") % 2147483647L * 2654435761L % 2147483647L * 4294967296L
          + col("vec_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= quota)
      .select("cluster", "rn", "vec_id")
  }

  def lshNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    // eager: both sides of the band self-join consume the buckets; the
    // barrier guarantees one nearDupKeys pass over the corpus
    val buckets = Fixpoint.materializedLeaf(ndBuckets(emb))
    val cand = buckets.toDF("id_a", "band", "key")
      .join(buckets.toDF("id_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // NO candidate-id bloom here, deliberately — unlike the minhash verify
    // (Dedup.verifiedJaccardPairs), where band collisions are rare and the
    // bloom cuts the corpus-side shuffle 3x: the adaptive banding targets
    // ~NdTargetBucket occupancy, so essentially EVERY vector is in some
    // candidate pair and a membership filter removes nothing (measured:
    // adding it doubled shuffle bytes by forcing the wide pair relation
    // through extra exchanges). Pairs outnumber vectors ~100:1 by design;
    // re-joining the narrow vector relation twice is the cheap side.
    val vecs = emb.select(col("vec_id"), col("embedding"),
      GraftFunctions.vecNorm(col("embedding")).as("norm"))
    cand
      .join(vecs.toDF("id_a", "va", "na"), "id_a")
      .join(vecs.toDF("id_b", "vb", "nb"), "id_b")
      .withColumn("score", round(GraftFunctions.dotProduct(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }
}

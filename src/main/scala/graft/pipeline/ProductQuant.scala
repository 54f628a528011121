package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Product quantization (PQ) for approximate nearest-neighbor search: the
  * embedding space is split into [[M]] subspaces, each quantized by its own
  * [[KSub]]-centroid codebook, so a 64-float vector compresses to M small
  * codes (32x smaller here). Search uses asymmetric distance computation
  * (ADC): per query, one M x KSub lookup table of exact query-to-centroid
  * dot products turns scoring a candidate into M table reads — the memory-
  * bandwidth-bound scan that makes billion-vector search tractable where
  * full-vector scans are not. ADC survivors are exactly reranked against
  * the true vectors, so emitted scores are exact cosines and recall is the
  * only approximation (measured in VecKMeansSpec, like IVF).
  *
  * Scale design: codebooks train with ONE fused pass per iteration (every
  * subspace's partial vector sums ride one groupByKey shuffle of
  * M x KSub rows); encoding is a single mapPartitions; the ADC scan keeps
  * per-query bounded heaps per partition and emits only per-partition
  * top-R, so no |Q| x |corpus| row set ever shuffles; a global top-R cut
  * then fixes the candidate set independent of partition layout.
  * Deterministic seeding (subvectors of the KSub lowest vec_ids), no RNG,
  * and quantized codebook updates (VecKMeans.QuantScale — exact int64
  * sums, partition-order-free) make training bit-deterministic across
  * engines: q_sim_pq is oracle-checked against a DuckDB CTE unrolling the
  * same arithmetic; recall is measured in VecKMeansSpec.
  */
object ProductQuant {
  /** subspaces (codes per vector) and centroids per subspace codebook */
  val M = 8
  val KSub = 16

  /** codebooks(m)(c) is the dsub-dim centroid c of subspace m */
  final case class Codebooks(dsub: Int, cents: Array[Array[Array[Double]]])

  private def sqDistSub(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); acc += d * d; i += 1 }
    acc
  }

  private def nearestSub(v: Array[Float], off: Int, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDistSub(v, off, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Lloyd's iterations over all M subspaces fused into one scan per
    * iteration: each vector emits M (subspace, code) partial sums, merged
    * by one shuffle of at most M x KSub aggregate rows. */
  def train(emb: DataFrame, iterations: Int): Codebooks = Fixpoint.scope {
    val spark = emb.sparkSession
    import spark.implicits._
    val data = Fixpoint.persisted(emb.select(col("vec_id"), col("embedding")))
    val dim = data.select(size(col("embedding"))).first().getInt(0)
    require(dim % M == 0, s"dim $dim not divisible by $M subspaces")
    val dsub = dim / M

    // deterministic seeds: subvectors of the KSub lowest vec_ids
    val seeds = data.orderBy("vec_id").limit(KSub)
      .select("embedding").as[Array[Float]].collect()
    require(seeds.length == KSub,
      s"PQ training needs at least $KSub vectors, got ${seeds.length}")
    var cents: Array[Array[Array[Double]]] = Array.tabulate(M, KSub) { (m, c) =>
      Array.tabulate(dsub)(i => seeds(c)(m * dsub + i).toDouble)
    }

    val agg = new VecKMeans.VecSumAgg(dsub).toColumn
    for (_ <- 1 to iterations) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = data.as[(Long, Array[Float])]
        .flatMap { case (_, v) =>
          val cs = bc.value
          (0 until M).iterator.map { m =>
            val sub = java.util.Arrays.copyOfRange(v, m * dsub, (m + 1) * dsub)
            (m * KSub + nearestSub(v, m * dsub, cs(m)), sub)
          }
        }
        .groupByKey(_._1).mapValues(_._2)
        .agg(agg)
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { case (key, vs) =>
        if (vs.n > 0) next(key / KSub)(key % KSub) = VecKMeans.centroidOf(vs)
      }
      cents = next
    }
    Codebooks(dsub, cents)
  }

  /** the PQ codes of `v` and its code-implied norm: the sqrt of the summed
    * squared norms of its code centroids, the ADC denominator */
  private def pqCode(v: Array[Float], b: Codebooks): (Array[Int], Double) = {
    val codes = new Array[Int](M)
    var n2 = 0.0
    var m = 0
    while (m < M) {
      val c = nearestSub(v, m * b.dsub, b.cents(m))
      codes(m) = c
      val cent = b.cents(m)(c)
      var i = 0
      while (i < b.dsub) { n2 += cent(i) * cent(i); i += 1 }
      m += 1
    }
    (codes, math.sqrt(n2))
  }

  /** (nid, codes ARRAY<INT>, napprox DOUBLE): one pass assigns every
    * subspace code and the code-implied norm. */
  def encode(emb: DataFrame, cb: Codebooks): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, v) => val (codes, n) = pqCode(v, b); (id, codes, n) }
      }.toDF("nid", "codes", "napprox")
  }

  /** per query (qid, vector): the ADC lookup table of exact
    * query-to-centroid dot products per (subspace, code), collected to the
    * driver (the query set is small by contract) */
  private def adcTables(queries: DataFrame, cb: Codebooks): Array[(Long, Array[Float], Array[Array[Double]])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        val lut = Array.tabulate(M, KSub) { (m, c) =>
          val cent = cb.cents(m)(c)
          var acc = 0.0
          var i = 0
          while (i < cb.dsub) { acc += qv(m * cb.dsub + i) * cent(i); i += 1 }
          acc
        }
        (qid, qv, lut)
      }
  }

  /** The ADC scan with exact rerank. `codes` is (nid, cell, codes,
    * napprox); each query (qid, lut, probed) scores a row only when the
    * row's cell is probed, by M table reads over the code-implied norm.
    *
    * Per-partition bounded heaps cap the scan's output at |Q| x refine
    * rows per partition (never |Q| x |corpus|); a global top-`refine` cut
    * per query then makes the candidate SET the true ADC top-refine by
    * (score DESC, nid) — independent of partition layout, which is what
    * lets the DuckDB oracle reproduce it. Heap order ties on score break
    * by nid (higher nid = worse) so the per-partition cut is consistent
    * with the global one. The survivors are reranked exactly against the
    * true vectors. Output (qid, rn, nid, score). */
  private def adcRefine(corpus: DataFrame, queries: DataFrame, codes: DataFrame,
      tables: Array[(Long, Array[Array[Double]], Array[Boolean])],
      k: Int, refine: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcT = spark.sparkContext.broadcast(tables)
    val cand = codes.as[(Long, Int, Array[Int], Double)]
      .mapPartitions { it =>
        val worstFirst = new java.util.Comparator[(Double, Long)] {
          override def compare(a: (Double, Long), b: (Double, Long)): Int = {
            val c = java.lang.Double.compare(a._1, b._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        val ts = bcT.value
        val heaps = ts.map(_ =>
          new java.util.PriorityQueue[(Double, Long)](refine + 1, worstFirst))
        it.foreach { case (nid, cell, cs, napprox) =>
          var q = 0
          while (q < ts.length) {
            val (tqid, lut, probed) = ts(q)
            if (tqid != nid && probed(cell)) {
              var dot = 0.0
              var m = 0
              while (m < M) { dot += lut(m)(cs(m)); m += 1 }
              val score = if (napprox > 0) dot / napprox else 0.0
              val h = heaps(q)
              h.add((score, nid))
              if (h.size > refine) h.poll()
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          val qid = ts(q)._1
          Iterator.continually(h.poll()).takeWhile(_ != null)
            .map(p => (qid, p._2, p._1))
        }
      }.toDF("qid", "nid", "ascore")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("ascore").desc, col("nid").asc)
    val refined = cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= refine).select("qid", "nid")

    Similarity.rankTopK(
      refined.join(Similarity.queriesWithNorm(queries), "qid")
        .join(Similarity.corpusWithNorm(corpus), "nid"),
      k)
  }

  /** ADC top-k with exact rerank. `refine` = candidates kept per query
    * from the code scan before reranking (recall knob). The ADC scan with
    * every row in one cell, probed by every query. Output
    * (qid, rn, nid, score) — same contract as Similarity.bruteForceTopK. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, cb: Codebooks,
      k: Int, refine: Int): DataFrame = {
    val codes = encode(corpus, cb)
      .select(col("nid"), lit(0).as("cell"), col("codes"), col("napprox"))
    val tables = adcTables(queries, cb).map { case (qid, _, lut) => (qid, lut, Array(true)) }
    adcRefine(corpus, queries, codes, tables, k, refine)
  }

  /** IVF+PQ composite ANN — the FAISS-IVFPQ shape, minus residual
    * encoding (codes quantize the raw vectors, so ONE codebook set serves
    * every cell and the DuckDB oracle composes the IVF and PQ training
    * replays unchanged): a k-means coarse quantizer restricts each
    * query's ADC scan to its `nprobe` nearest cells, PQ codes bound the
    * per-candidate cost to M table reads, and exact reranking of the
    * top-`refine` survivors makes emitted scores true cosines.
    *
    * This is the billion-vector layout the two ingredients exist for:
    * the inverted file prunes candidates BEFORE any scoring (and
    * [[VecKMeans.writeClusterPartitioned]] turns that pruning into
    * parquet directory pruning on disk), PQ compresses what remains 32x
    * so a probed cell scans from memory bandwidth, and full-precision
    * vectors are touched only for the `refine` survivors per query.
    * Candidate determinism is [[adcTopK]]'s, with the one extra rule that
    * a vector outside the query's probed cells is never scored at all.
    * Output (qid, rn, nid, score) like Similarity.bruteForceTopK. */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Double]], cb: Codebooks,
      k: Int, nprobe: Int, refine: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcCells = spark.sparkContext.broadcast(cents)
    val bcCb = spark.sparkContext.broadcast(cb)

    // one corpus pass: IVF cell + PQ codes + code-implied norm (the ADC
    // denominator) — no second scan re-attaches any of the three
    val codes = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bcCells.value
        val b = bcCb.value
        it.map { case (id, v) =>
          val (cds, n) = pqCode(v, b)
          (id, VecKMeans.nearest(v, cs), cds, n)
        }
      }.toDF("nid", "cell", "codes", "napprox")

    // per query, the probed-cell mask: the nprobe nearest cells (stable
    // sort ties break toward the lower cell index, matching ivfTopK and
    // the oracle's ORDER BY dist, cluster)
    val tables = adcTables(queries, cb).map { case (qid, qv, lut) =>
      val probed = new Array[Boolean](cents.length)
      cents.indices.sortBy(c => VecKMeans.sqDist(qv, cents(c)))
        .take(nprobe).foreach(probed(_) = true)
      (qid, lut, probed)
    }
    adcRefine(corpus, queries, codes, tables, k, refine)
  }
}

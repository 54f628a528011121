package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, VecImpl}
import graft.iterate.Fixpoint

/** k-means over an Array[Float] embedding column, and IVF (inverted-file)
  * approximate nearest-neighbor search built on it — the coarse-quantizer
  * scale path for similarity search: at 100 TB the corpus is partitioned by
  * nearest centroid once, and each query only scans its `nprobe` nearest
  * cells instead of the whole corpus.
  *
  * Design notes:
  *  - assignment is a typed mapPartitions over a broadcast centroid matrix
  *    (centroids are iteration-varying state — a literal-expression
  *    formulation would rebuild/recompile the plan per iteration);
  *  - the per-cluster mean uses a custom Aggregator summing QUANTIZED
  *    vectors into a mergeable int64 buffer — one partial-aggregated
  *    shuffle of k rows, no dimension explosion (see [[QuantScale]]);
  *  - deterministic seeding (first k distinct vec_ids), no RNG, and
  *    quantized updates make training BIT-DETERMINISTIC across runs,
  *    partitionings, and engines — q_sim_ivf is oracle-checked against a
  *    DuckDB CTE unrolling the same arithmetic; VecKMeansSpec additionally
  *    asserts quality (monotone SSE, IVF recall vs brute force).
  */
object VecKMeans {

  /** Centroids live on a 2^-20 grid: each input float is rounded
    * half-away-from-zero to an int64 multiple of 2^-20, so per-cluster
    * sums are EXACT integer sums — associative, commutative, and
    * partition-order-free, unlike float accumulation — and the mean is
    * one IEEE division of exactly-represented operands. That is what
    * makes Lloyd training reproducible bit-for-bit on any partitioning
    * and replayable by the DuckDB oracle. The 1e-6 grid sits far below
    * any clustering-relevant signal (embedding values are O(0.1)), and
    * int64 headroom covers ~10^12 rows per cluster at |v| <= 1. */
  val QuantScale = 1048576L // 2^20

  /** round-half-away-from-zero, matching both engines' SQL round(); the
    * +/-0.5 add is exact here because inputs are float32 values scaled by
    * a power of two (<= 24 significant bits, magnitude < 2^21) */
  def qround(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** elementwise quantized vector sum + count, mergeable (the partial
    * aggregate); sums are exact int64, so merge order cannot matter */
  final case class VecSum(n: Long, sum: Array[Long])

  class VecSumAgg(dim: Int) extends Aggregator[Array[Float], VecSum, VecSum] {
    override def zero: VecSum = VecSum(0L, new Array[Long](dim))
    override def reduce(b: VecSum, v: Array[Float]): VecSum = {
      var i = 0
      while (i < dim) { b.sum(i) += qround(v(i).toDouble * QuantScale); i += 1 }
      VecSum(b.n + 1, b.sum)
    }
    override def merge(a: VecSum, b: VecSum): VecSum = {
      var i = 0
      while (i < dim) { a.sum(i) += b.sum(i); i += 1 }
      VecSum(a.n + b.n, a.sum)
    }
    override def finish(b: VecSum): VecSum = b
    override def bufferEncoder: Encoder[VecSum] = Encoders.product[VecSum]
    override def outputEncoder: Encoder[VecSum] = Encoders.product[VecSum]
  }

  /** quantized-sum buffer -> centroid coordinates: one IEEE division per
    * dim; (n * QuantScale) and the int64 sum both convert to double
    * exactly at catalog scales, so both engines compute the same bits */
  def centroidOf(vs: VecSum): Array[Double] =
    vs.sum.map(s => s.toDouble / (vs.n * QuantScale).toDouble)

  private[pipeline] def sqDist(v: Array[Float], c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
    acc
  }

  private[pipeline] def nearest(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** (vec_id, cluster) assignment for a fixed centroid matrix */
  def assign(emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, nearest(v, cs)) }
      }.toDF("vec_id", "cluster")
  }

  /** Lloyd's iterations; returns the final centroid matrix. */
  def train(emb: DataFrame, k: Int, iterations: Int): Array[Array[Double]] = Fixpoint.scope {
    val spark = emb.sparkSession
    import spark.implicits._
    val data = Fixpoint.persisted(emb.select(col("vec_id"), col("embedding")))
    val dim = data.select(size(col("embedding"))).first().getInt(0)

    // deterministic seeds: the k lowest vec_ids
    var cents: Array[Array[Double]] = data.orderBy("vec_id").limit(k)
      .select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))

    val agg = new VecSumAgg(dim).toColumn
    for (_ <- 1 to iterations) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = data.as[(Long, Array[Float])]
        .groupByKey { case (_, v) => nearest(v, bc.value) }
        .mapValues(_._2)
        .agg(agg)
        .collect()
      val next = cents.clone()
      sums.foreach { case (c, vs) =>
        if (vs.n > 0) next(c) = centroidOf(vs)
      }
      cents = next
    }
    cents
  }

  /** mean squared distance to assigned centroid (training objective) */
  def sse(emb: DataFrame, cents: Array[Array[Double]]): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    emb.select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        val cs = bc.value
        it.map(v => sqDist(v, cs(nearest(v, cs))))
      }.reduce(_ + _)
  }

  /** IVF top-k: corpus pre-assigned to cells; each query scans only its
    * `nprobe` nearest cells. Output (qid, rn, nid, score) like
    * Similarity.bruteForceTopK — recall < 1 by design, measured in spec. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cents: Array[Array[Double]],
      k: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // one pass over the corpus computes cluster AND norm — no second scan
    // or full-embedding shuffle to re-attach them
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) =>
          (id, nearest(v, cs), v, math.sqrt(VecImpl.dot(v, v)))
        }
      }.toDF("nid", "cluster", "nv", "nn")
    val probes = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val cs = bc.value
        cs.indices.sortBy(c => sqDist(v, cs(c))).take(nprobe).map(c => (id, c))
      }.toDF("qid", "cluster")
      .join(Similarity.queriesWithNorm(queries), "qid")

    Similarity.rankTopK(probes.join(assigned, "cluster"), k)
  }

  /** Cluster-partitioned ANN layout: persist the corpus PARTITIONED BY its
    * IVF cluster assignment, so a probe batch reads only its probed
    * cluster directories — the on-disk face of [[ivfTopK]]'s in-memory
    * cell restriction. At 100 TB the inverted file IS the directory
    * structure: a query batch scans ~nprobe/k of the corpus, the
    * `cluster` IN-list becomes a PartitionFilter (directory pruning, files
    * of unprobed cells never listed), and re-clustering is a rewrite of
    * individual cluster directories, not the corpus. One broadcast-
    * centroid map pass computes the assignment; no shuffle before the
    * partitioned write beyond the writer's own file split. */
  def writeClusterPartitioned(corpus: DataFrame, cents: Array[Array[Double]],
      path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, v, nearest(v, cs)) }
      }.toDF("vec_id", "embedding", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
  }

  /** IVF search over a [[writeClusterPartitioned]] layout: probes rank the
    * SAME centroid matrix the layout was written with, the probed-cell
    * IN-list prunes at the directory level, and the per-query (qid,
    * cluster) join restricts each query to its own nprobe cells. Exact
    * same arithmetic as [[ivfTopK]] (parquet float roundtrip is lossless),
    * so results are bit-identical — ScaleOpsSpec asserts both the
    * equality and the PartitionFilters pruning. */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, cents: Array[Array[Double]], k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val probes = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val cs = bc.value
        cs.indices.sortBy(c => sqDist(v, cs(c))).take(nprobe).map(c => (id, c))
      }.toDF("qid", "cluster")
      .join(Similarity.queriesWithNorm(queries), "qid")
    // the union of probed cells is at most |cents| values — a literal
    // IN-list the scan turns into a directory-pruning PartitionFilter
    val probedCells = probes.select("cluster").distinct().as[Int].collect().toSeq
    val corpus = spark.read.parquet(path)
      .filter(col("cluster").isin(probedCells: _*))
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("cluster"))
      .withColumn("nn", graft.functions.GraftFunctions.vecNorm(col("nv")))
    Similarity.rankTopK(probes.join(corpus, "cluster"), k)
  }
}

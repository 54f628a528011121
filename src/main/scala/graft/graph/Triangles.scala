package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Directed-triangle (3-cycle) counting, the reference's two join
  * strategies re-expressed declaratively:
  *
  *  - ReduceSideJoin (repartition/shuffle join): two chained MR jobs that
  *    tag both edge directions, cross-product per key, then join candidate
  *    closing edges against reversed edges —
  *    ReduceSideJoin/src/main/java/wc/CountFollowers.java:26-164. Here that
  *    is literally `e1 ⋈ e2 ⋈ e3` and Catalyst plans the shuffle joins.
  *  - RepJoin (replicated/broadcast join): edge set loaded into an
  *    in-memory HashMap in every mapper — RepJoin/src/main/java/wc/
  *    CountFollowers.java:31-107. Here a `broadcast()` hint.
  *
  * Both count each 3-cycle three times (once per rotation) and divide by 3
  * (RepJoin/...:119). The `maxId` bound reproduces the reference "max
  * filter" (ReduceSideJoin/...:37: 80000; RepJoin/...:55: 1000) and is
  * pushed beneath the joins by Catalyst.
  */
object Triangles {

  private def bounded(edges: DataFrame, maxId: Long): DataFrame =
    edges.filter(col("src") <= maxId && col("dst") <= maxId)

  /** 3-cycle count via shuffle self-joins (ReduceSideJoin semantics). */
  def countShuffle(edges: DataFrame, maxId: Long): DataFrame =
    cycleCount(bounded(edges, maxId), identity)

  /** 3-cycle count with the closing-edge sides broadcast (RepJoin semantics).
    * Only valid when the bounded edge set fits in executor memory — the same
    * precondition the reference's DistributedCache imposes. */
  def countBroadcast(edges: DataFrame, maxId: Long): DataFrame =
    cycleCount(bounded(edges, maxId), broadcast)

  /** Per-vertex triangle counts and local clustering coefficient over the
    * UNDIRECTED bounded graph: coef(v) = 2·tri(v) / (deg(v)·(deg(v)−1)).
    * Wedges (u—v—w, u<w) come from one ordered self-join; a semi-join
    * against the edge set closes them — never an all-pairs product, and
    * the u<w ordering counts each triangle once per vertex. The density
    * screen for graph curation (bot rings score near 1, broadcast hubs
    * near 0). Single int division per row keeps the coefficient exact
    * across engines. */
  def clusteringCoefficient(edges: DataFrame, maxId: Long): DataFrame = {
    val b = bounded(edges, maxId)
    // consumed by deg, wedges (twice), and the closing semi-join — one
    // materialization instead of four derivations
    val und = Fixpoint.materializedLeaf(b.select(col("src"), col("dst"))
      .union(b.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val wedges = und.as("a").join(und.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("v"), col("a.dst").as("u"), col("b.dst").as("w"))
    val tri = wedges
      .join(und.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"), "left_semi")
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.withColumnRenamed("src", "vertex")
      .join(tri.withColumnRenamed("v", "vertex"), Seq("vertex"), "left_outer")
      .select(col("vertex"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          (lit(2L) * coalesce(col("tri"), lit(0L))).cast("double")
            / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("coef"))
  }

  /** Common-neighbor link prediction over the undirected bounded graph:
    * for each NON-adjacent pair (u < v), the number of shared neighbors —
    * the classic "people you may know" score. Candidate pairs come from the
    * same ordered wedge self-join as clusteringCoefficient (never an
    * all-pairs product: only pairs at distance 2 materialize), the
    * adjacency anti-join removes existing edges, and the top-`k` truncation
    * runs as TakeOrderedAndProject (per-partition heaps, no global sort).
    * The (cn DESC, u, v) order is total, so the cut is deterministic at any
    * density — an absolute count threshold is not scale-stable. At 100 TB
    * the wedge join's fan-out is Σ deg(v)², so hub vertices get capped
    * upstream (the k-core/degree screens in this library) exactly as
    * production link predictors do. */
  def commonNeighbors(edges: DataFrame, maxId: Long, k: Int): DataFrame = {
    val (_, cn) = nonAdjacentCommonNeighbors(edges, maxId)
    cn.orderBy(desc("cn"), col("u"), col("v")).limit(k)
  }

  /** Jaccard-normalized link prediction: score(u,v) = cn / (deg(u) +
    * deg(v) − cn), i.e. |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — damps the hub
    * bias of the raw common-neighbor count. One extra broadcast-sized
    * degree join over commonNeighbors; the score is a single int-ratio
    * double division (exact on both engines, like q_window_ratio). */
  def jaccardLinkPred(edges: DataFrame, maxId: Long, k: Int): DataFrame = {
    val (und, cn) = nonAdjacentCommonNeighbors(edges, maxId)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    cn.join(deg.select(col("src").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("src").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") / (col("du") + col("dv") - col("cn"))).as("score"))
      .orderBy(desc("score"), col("u"), col("v"))
      .limit(k)
  }

  /** shared derivation: the materialized undirected bounded edge set and
    * the common-neighbor counts of its NON-adjacent vertex pairs */
  private def nonAdjacentCommonNeighbors(edges: DataFrame, maxId: Long):
      (DataFrame, DataFrame) = {
    val b = bounded(edges, maxId)
    // consumed by the wedge join (twice) + anti-join (+ degrees)
    val und = Fixpoint.materializedLeaf(b.select(col("src"), col("dst"))
      .union(b.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val wedges = und.as("a").join(und.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"))
    val cn = wedges.groupBy("u", "v").agg(count(lit(1)).as("cn"))
      .join(und.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"), "left_anti")
    (und, cn)
  }

  private def cycleCount(edges: DataFrame, hint: DataFrame => DataFrame): DataFrame = {
    // materialize the (filtered, deduped) edge set once — the three-way
    // self-join would otherwise re-derive it per join input (the planner
    // does not reuse the scan+distinct subtree across self-join aliases)
    val e = Fixpoint.materializedLeaf(edges)
    val e1 = e.as("e1")
    val e2 = hint(e.as("e2"))
    val e3 = hint(e.as("e3"))
    e1.join(e2, col("e1.dst") === col("e2.src"))
      .join(e3, col("e2.dst") === col("e3.src") && col("e3.dst") === col("e1.src"))
      .agg((count(lit(1)) / 3).as("triangles"))
  }
}

package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Single-source shortest path, unit edge weights (BFS relaxation to a
  * fixpoint), with `Double.PositiveInfinity` as the "unreached" sentinel —
  * reference semantics from
  * SingleSourceShortestPathRDD/src/main/scala/wc/FollowerCount.scala:23-51 and
  * SingleSourceShortestPathDataSet/src/main/scala/wc/FollowerCount.scala:29-59.
  *
  * Scale design beyond the reference:
  *  - frontier-based relaxation: only vertices whose distance improved in the
  *    previous round generate candidates (the reference re-relaxes every
  *    vertex every round — quadratic total work on long-diameter graphs);
  *  - edges repartitioned by src and cached once, reused every iteration;
  *  - the union+min merge keeps every vertex (right-outer-join semantics of
  *    SingleSourceShortestPathRDD/...:38-39);
  *  - convergence = empty frontier, checked on the already-materialized
  *    state (no extra diff-join job like the reference's :42-44).
  */
object ShortestPath {

  /** @param edges (src LONG, dst LONG)
    * @return (vertex LONG, dist DOUBLE), Infinity for unreached
    */
  def run(edges: DataFrame, source: Long, maxIter: Int = 50): DataFrame =
    relaxFromSource(edges, source, lit(1.0), maxIter)

  /** Weighted SSSP — Bellman-Ford relaxation to a fixpoint: identical
    * frontier/merge shape to run(), with candidates adding the edge weight
    * instead of 1. Converges once no distance improves (≤ longest
    * shortest-path edge count rounds; maxIter is the safety bound, like
    * Bellman-Ford's |V|−1). Integer-valued weights keep the double sums
    * exact, so the oracle (a distance-bounded recursive CTE) matches
    * bit-for-bit. A cheap many-edge path beats an expensive direct edge
    * here — the case the unit-weight variant cannot express.
    * @param edges (src LONG, dst LONG, w DOUBLE — integral values)
    * @return (vertex LONG, dist DOUBLE), Infinity for unreached */
  def runWeighted(edges: DataFrame, source: Long, maxIter: Int = 50): DataFrame =
    relaxFromSource(edges, source, col("w"), maxIter)

  /** run/runWeighted: the relax loop from `source` over the src-partitioned
    * edge leaf, each edge costing `cost` (evaluated against the edge row).
    * The loop is sized from the leaf's count with no count of its own: n
    * edges touch at most 2n vertices, plus the source. */
  private def relaxFromSource(edges: DataFrame, source: Long, cost: Column,
      maxIter: Int): DataFrame = Fixpoint.scope {
    val (e, n) = Fixpoint.srcPartitionedLeaf(edges)
    relaxLoop(sourceSeeded(e, source), e, cost, maxIter, 2 * n + 1).select("vertex", "dist")
  }

  /** The initial (vertex, dist, changed) state: every vertex of `e` plus
    * the source, which must appear with dist 0 even when it has no incident
    * edges (the oracle seeds it unconditionally); the source alone is the
    * frontier. */
  private def sourceSeeded(e: DataFrame, source: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    Graphs.vertices(e)
      .union(Seq(source).toDF("vertex")).distinct()
      .select(col("vertex"),
        when(col("vertex") === source, lit(0.0)).otherwise(lit(Double.PositiveInfinity)).as("dist"),
        (col("vertex") === source).as("changed"))
  }

  /** The frontier loop shared by run, runWeighted and incrementalWeighted:
    * relax out-edges of changed vertices at `cost` per edge, merge by
    * per-vertex min, converge when no distance improves. `e` must be
    * src-partitioned and materialized by the caller; `vertices` bounds the
    * state's row count and sizes the loop, which runs no count of its own. */
  private def relaxLoop(init: DataFrame, e: DataFrame, cost: Column, maxIter: Int,
      vertices: Long): DataFrame =
    Fixpoint.iterate(init, vertices, maxIter,
      converged = Fixpoint.noneMatch(col("changed"))) { (state, _) =>
      val frontier = state.filter(col("changed"))
      val candidates = frontier
        .join(e, frontier("vertex") === e("src"))
        .select(col("dst").as("vertex"), (col("dist") + cost).as("cand"))
        .groupBy("vertex").agg(min("cand").as("cand"))
      state.select(col("vertex"), col("dist"))
        .join(candidates, Seq("vertex"), "left_outer")
        .select(
          col("vertex"),
          least(col("dist"), coalesce(col("cand"), lit(Double.PositiveInfinity))).as("dist"),
          (coalesce(col("cand"), lit(Double.PositiveInfinity)) < col("dist")).as("changed"))
    }

  /** Incremental weighted SSSP: fold a batch of NEW edges into a stored
    * distance table without re-relaxing the whole graph. Adding edges can
    * only shorten shortest paths, so the stored distances remain exact
    * UPPER bounds (the Bellman-Ford invariant: relaxation from any
    * upper-bound labeling converges to the unique fixpoint). The state is
    * seeded with the stored distances, and the initial frontier is one
    * relaxation pass through the new edges ALONE — every shortening path
    * must use at least one new edge, so the vertices improved by that pass
    * are exactly the roots of every region that can change. The loop then
    * runs over the merged edge set, but per round it touches only
    * frontier-adjacent edges — on a small batch the re-relaxed region
    * stays small while the result equals `runWeighted(old ∪ new)`
    * bit-for-bit (integral weights; the oracle IS the batch SQL).
    *
    * At 100 TB: `dists` comes from the stored output of a prior run (no
    * recompute — the stored-index pattern of Dedup/Similarity ingest);
    * the merged edge relation is src-partitioned once and each round
    * shuffles only the frontier.
    *
    * @param dists    stored (vertex LONG, dist DOUBLE) — a converged
    *                 runWeighted output over the OLD edge set
    * @param newEdges the appended batch (src LONG, dst LONG, w DOUBLE)
    * @param allEdges old ∪ new (src LONG, dst LONG, w DOUBLE)
    * @return (vertex LONG, dist DOUBLE), Infinity for unreached */
  def incrementalWeighted(dists: DataFrame, newEdges: DataFrame,
      allEdges: DataFrame, maxIter: Int = 50): DataFrame = Fixpoint.scope {
    val (e, n) = Fixpoint.srcPartitionedLeaf(allEdges)
    val inf = lit(Double.PositiveInfinity)
    val stored = dists.select(col("vertex"), col("dist"))
    // merged vertex set; vertices the batch introduces start unreached
    val base = Graphs.vertices(e.select("src", "dst"))
      .join(stored, Seq("vertex"), "left_outer")
      .select(col("vertex"), coalesce(col("dist"), inf).as("dist"))
    // one pass through the new edges from stored distances = the frontier
    val seed = stored.select(col("vertex").as("u"), col("dist").as("du"))
      .join(newEdges, col("u") === newEdges("src"))
      .select(col("dst").as("vertex"), (col("du") + col("w")).as("cand"))
      .groupBy("vertex").agg(min("cand").as("cand"))
    val init = base.join(seed, Seq("vertex"), "left_outer")
      .select(
        col("vertex"),
        least(col("dist"), coalesce(col("cand"), inf)).as("dist"),
        (coalesce(col("cand"), inf) < col("dist")).as("changed"))
    relaxLoop(init, e, col("w"), maxIter, 2 * n).select("vertex", "dist")
  }

  /** Multi-source BFS (landmark distances): unit-hop shortest distance
    * from EVERY seed in ONE fixpoint — state keyed (seed, vertex), so all
    * seeds relax simultaneously over the same cached edge relation
    * instead of paying the edge scan and per-round checkpoint latency
    * |seeds| times. The landmark-distance table is the building block of
    * distance sketches and graph feature vectors at scale.
    *
    * State is SPARSE: unreached (seed, vertex) pairs are absent rather
    * than +inf rows, so state size tracks reached pairs (≤ |seeds|·|V|)
    * and the full-outer merge admits newly discovered pairs. Unit-hop BFS
    * never improves a settled distance, so the frontier is exactly the
    * newly discovered pairs and convergence = empty frontier.
    * Returns (seed, vertex, dist) for reachable pairs only. */
  def multiSourceBfs(edges: DataFrame, seeds: Seq[Long], maxIter: Int = 50): DataFrame = Fixpoint.scope {
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, _) = Fixpoint.srcPartitionedLeaf(edges)
    val unreached = lit(Long.MaxValue)
    val init = seeds.toDF("seed").select(col("seed"), col("seed").as("vertex"),
      lit(0L).as("dist"), lit(true).as("changed"))
    // sized from the seed rows: the state's round-1 size
    val result = Fixpoint.iterate(init, seeds.size, maxIter,
      converged = Fixpoint.noneMatch(col("changed"))) { (state, _) =>
      val frontier = state.filter(col("changed"))
      val candidates = frontier.join(e, frontier("vertex") === e("src"))
        .select(col("seed"), col("dst").as("vertex"), (col("dist") + 1L).as("cand"))
        .groupBy("seed", "vertex").agg(min("cand").as("cand"))
      state.select(col("seed"), col("vertex"), col("dist"))
        .join(candidates, Seq("seed", "vertex"), "full_outer")
        .select(col("seed"), col("vertex"),
          least(coalesce(col("dist"), unreached), coalesce(col("cand"), unreached))
            .as("dist"),
          (coalesce(col("cand"), unreached) < coalesce(col("dist"), unreached))
            .as("changed"))
    }
    result.select("seed", "vertex", "dist")
  }

  /** Distance + one shortest path per vertex (the MR variant's payload —
    * ShortestPathMR/src/main/java/wc/CountFollowers.java:106-112,133-165).
    * Argmin-with-payload via min(struct(dist, path)): struct ordering
    * compares dist first, then the path lexicographically — deterministic
    * tie-break (the reference keeps "first min encountered", which is
    * partition-order-dependent; ours is stable).
    */
  def runWithPath(edges: DataFrame, source: Long, maxIter: Int = 50): DataFrame = Fixpoint.scope {
    val (e, n) = Fixpoint.srcPartitionedLeaf(edges)
    val init = sourceSeeded(e, source).withColumn("path",
      when(col("vertex") === source, array(lit(source))).otherwise(lit(null).cast("array<bigint>")))

    // n edges touch at most 2n vertices, plus the source
    val result = Fixpoint.iterate(init, 2 * n + 1, maxIter,
      converged = Fixpoint.noneMatch(col("changed"))) { (state, _) =>
      val frontier = state.filter(col("changed"))
      val candidates = frontier
        .join(e, frontier("vertex") === e("src"))
        .select(col("dst").as("vertex"),
          struct((col("dist") + 1.0).as("dist"), concat(col("path"), array(col("dst"))).as("path")).as("cand"))
        .groupBy("vertex").agg(min("cand").as("cand"))
      state.select(col("vertex"), struct(col("dist"), col("path")).as("cur"))
        .join(candidates, Seq("vertex"), "left_outer")
        .select(
          col("vertex"),
          when(col("cand").isNotNull && col("cand")("dist") < col("cur")("dist"), col("cand"))
            .otherwise(col("cur")).as("best"),
          (col("cand").isNotNull && col("cand")("dist") < col("cur")("dist")).as("changed"))
        .select(col("vertex"), col("best")("dist").as("dist"), col("best")("path").as("path"), col("changed"))
    }
    result.select("vertex", "dist", "path")
  }
}

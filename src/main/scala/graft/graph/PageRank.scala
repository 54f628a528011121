package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Mass-push PageRank with dangling-mass redistribution via a dummy vertex,
  * matching the reference semantics exactly
  * (PageRankRDD/src/main/scala/wc/FollowerCount.scala:58-70):
  *
  *  - no teleport/damping factor — pure mass push;
  *  - every vertex pushes rank/outDegree along each out-edge (the reference
  *    graph has out-degree 1 everywhere, so it never divides; we divide so
  *    general graphs conserve mass too);
  *  - mass arriving at the dangling dummy vertex is the "delta",
  *    redistributed equally to all real vertices, after which the dummy is
  *    zeroed (the RDD variant's semantics — the DataFrame variant at
  *    PageRankDataSet/.../FollowerCount.scala:70 leaks delta back into the
  *    dummy, a reference bug we do not reproduce);
  *  - vertices with no in-links still receive the redistributed delta
  *    (the union-merge at PageRankRDD/.../FollowerCount.scala:64-66).
  *
  * Scale/plan design:
  *  - **Deferred delta**: the loop state stores ranks *without* the
  *    delta/V term; the dummy row itself carries the delta. Each iteration
  *    applies the previous delta inside the push (`(base + delta/V)` — the
  *    same float expression the reference evaluates, so values are
  *    bit-identical), and the final delta is applied once after the loop.
  *    This halves per-iteration jobs: the delta scalar is a broadcast of
  *    one cached row, never a recomputation of the contribution subtree.
  *  - Edge relation pre-partitioned by src with cardinality-sized width and
  *    cached once; every iteration's join reuses it.
  *  - Lineage cut per iteration via Fixpoint (localCheckpoint), which also
  *    sizes the loop's shuffles to the vertex count or a bound on it.
  */
object PageRank {

  /** @param edges (src LONG, dst LONG) directed edge relation
    * @param dummy  id of the dangling-mass sink vertex (reference: 0)
    * @param realVertexCount number of real (non-dummy) vertices; delta is
    *   divided by this (reference: k*k)
    */
  def run(edges: DataFrame, iterations: Int, dummy: Long,
      realVertexCount: Long): DataFrame = Fixpoint.scope {
    val (e, n) = srcPartitioned(edges)
    val eWithDeg = outDegreeEdges(e, n)

    // base state: every real vertex 1/N, dummy 0 (PageRankRDD/...:49-51).
    // base(dummy) always equals the previous iteration's delta (0 initially).
    val init = Graphs.vertices(e)
      .withColumn("rank",
        when(col("vertex") === dummy, lit(0.0))
          .otherwise(lit(1.0 / realVertexCount)))

    def applyDelta(state: DataFrame): DataFrame = {
      // aggregate (never filter+crossJoin): always exactly one row, so a
      // graph without the dummy vertex gets d=0 instead of a wiped result
      val delta = state.agg(
        (coalesce(sum(when(col("vertex") === dummy, col("rank"))), lit(0.0))
          / realVertexCount).as("d"))
      state.crossJoin(broadcast(delta))
        .select(col("vertex"),
          when(col("vertex") === dummy, lit(0.0))
            .otherwise(col("rank") + col("d")).as("rank"))
    }

    // n edges touch at most 2n vertices
    val result = Fixpoint.iterate(init, 2 * n, iterations) { (state, _) =>
      // effective ranks = base + deferred delta (dummy reads as 0)
      val eff = applyDelta(state)
      // push: each edge carries rank(src)/outdeg(src) to dst, summed per dst
      val contrib = eWithDeg
        .join(eff, eWithDeg("src") === eff("vertex"))
        .select(col("dst").as("vertex"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("vertex").agg(sum("c").as("c"))
      // union-merge keeps vertices with no in-links at rank 0; the dummy
      // row accumulates this iteration's delta
      state.select(col("vertex"), lit(0.0).as("c"))
        .unionByName(contrib)
        .groupBy("vertex").agg(sum("c").as("rank"))
    }
    applyDelta(result)
  }

  /** teleport probability constants for the damped variant — literal 2-dp
    * decimals so Spark's lit() and the oracle's CAST(x AS DOUBLE) resolve
    * to the same nearest-double (never derived as 1.0 - alpha, whose IEEE
    * result differs from the 0.15 literal by an ulp) */
  val DampAlpha = 0.85
  val DampTeleport = 0.15

  /** Classic damped PageRank (teleport α = [[DampAlpha]]) — the variant the
    * reference omits (its mass-push loop has no damping factor —
    * PageRankRDD/src/main/scala/wc/FollowerCount.scala:63 divides delta
    * only): r' = (1-α)/N + α·(Σ in-contribs + danglingMass/N), where
    * dangling mass is the total rank parked on vertices with no out-edges.
    *
    * Same plan skeleton as [[run]]: out-degree join hoisted out of the
    * loop, dangling vertex SET precomputed (it is loop-invariant), the
    * per-iteration dangling-mass scalar rides a 1-row broadcast inside the
    * single checkpoint sync point, union-merge keeps no-in-link vertices.
    */
  def runDamped(edges: DataFrame, iterations: Int): DataFrame =
    dampedCore(edges, iterations) { (verts, n) =>
      verts.withColumn("rank", lit(1.0 / n))
    }

  /** Warm-start damped PageRank: continue the iteration from STORED ranks
    * (a previous snapshot's result) on an updated edge relation, instead
    * of restarting from uniform. Damped PageRank is an α-contraction
    * toward its unique fixpoint regardless of the starting vector, so
    * seeding from ranks that are already close means the same residual in
    * far fewer rounds — on an evolving graph the steady state pays
    * `iterations` ≪ the cold-start round count, at identical
    * per-iteration cost. Vertices absent from `stored` (new this
    * snapshot) start at the uniform 1/N of the UPDATED graph; the
    * teleport and dangling terms also use the updated N. Cross-engine
    * correctness: q_graph_pagerank_warm's oracle replays BOTH stages fully
    * unrolled (snapshot rounds, then continuation rounds from those ranks),
    * proving this path directly. Continuation law (GraphSpec-enforced at
    * 1e-12): on an unchanged graph,
    * `runDampedFrom(runDamped(g, a), g, b)` equals `runDamped(g, a + b)`
    * up to float accumulation-order noise — the dangling-mass scalar and
    * per-vertex contribution sums are partition-order-dependent double
    * folds, and the warm-start init (a join output) has a different
    * physical layout than mid-run state, so bit-identity is NOT
    * guaranteed, only ulp-level agreement.
    *
    * @param stored (vertex LONG, rank DOUBLE) — ranks from the previous run
    */
  def runDampedFrom(stored: DataFrame, edges: DataFrame, iterations: Int): DataFrame =
    dampedCore(edges, iterations) { (verts, n) =>
      verts.join(stored.select(col("vertex"), col("rank")), Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("rank"), lit(1.0 / n)).as("rank"))
    }

  private def dampedCore(edges: DataFrame, iterations: Int,
      terms: Long => (Column, Column) = n => (lit(DampTeleport) / n, col("dm") / n))(
      initOf: (DataFrame, Long) => DataFrame): DataFrame = Fixpoint.scope {
    val (e, m) = srcPartitioned(edges)
    val eWithDeg = outDegreeEdges(e, m)
    val verts = Fixpoint.persisted(Graphs.vertices(e))
    val n = verts.count()
    // dangling set = vertices that never appear as src (loop-invariant)
    val dang = Fixpoint.persisted(verts
      .join(e.select(col("src").as("vertex")).distinct(), Seq("vertex"), "left_anti"))
    dang.count() // materialize while verts/e are hot
    // r' = teleport + α·(Σ in-contribs + dangling), each term per vertex
    val (teleport, dangling) = terms(n)

    Fixpoint.iterate(initOf(verts, n), n, iterations) { (state, _) =>
      val dm = state.join(dang, Seq("vertex"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
      val contrib = eWithDeg
        .join(state, eWithDeg("src") === state("vertex"))
        .select(col("dst").as("vertex"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("vertex").agg(sum("c").as("c"))
      state.select(col("vertex"), lit(0.0).as("c"))
        .unionByName(contrib)
        .groupBy("vertex").agg(sum("c").as("c"))
        .crossJoin(broadcast(dm))
        .select(col("vertex"), (teleport + lit(DampAlpha) * (col("c") + dangling)).as("rank"))
    }
  }

  /** Personalized PageRank: teleport (and dangling mass) return to a SEED
    * set instead of all vertices — the ranks become proximity scores to
    * the seeds, the workhorse of graph-based recommendation ("vertices
    * like these"). r' = (1-α)·p(v) + α·(Σ contribs + dm·p(v)) with
    * p(v) = 1/|S| on seeds, 0 elsewhere. Same plan skeleton as
    * [[runDamped]]; the seed indicator is a codegen'd IN-list predicate
    * (seed sets are small), never a join. */
  def runPersonalized(edges: DataFrame, seeds: Seq[Long], iterations: Int): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    def pExpr = when(col("vertex").isInCollection(seeds), lit(1.0 / seeds.size))
      .otherwise(lit(0.0))
    dampedCore(edges, iterations, _ => (lit(DampTeleport) * pExpr, col("dm") * pExpr)) {
      (verts, _) => verts.withColumn("rank", pExpr)
    }
  }

  /** The edge cache every link-analysis loop here shares: the edge relation
    * pinned by [[Fixpoint.columnarRows]] (the count's materialization then
    * feeds the repartition from cache instead of re-running the
    * derivation), and the edges hash-partitioned by src at the width the
    * count warrants, with that count. The partitioned edges are
    * [[Fixpoint.persisted]] — lazy, their first consumer fills them. */
  private[graph] def srcPartitioned(edges: DataFrame): (DataFrame, Long) = {
    val (u0, n) = Fixpoint.columnarRows(edges)
    (Fixpoint.persisted(u0.repartition(Fixpoint.sizedPartitions(edges.sparkSession, n), col("src"))), n)
  }

  /** edges pre-joined with their out-degrees ONCE — the e ⋈ outDeg join is
    * loop-invariant, so hoisting it saves a join (and its broadcast/
    * exchange jobs) from every iteration's plan; partitioned like `e`, at
    * the width its `n` rows warrant */
  private def outDegreeEdges(e: DataFrame, n: Long): DataFrame =
    Fixpoint.persisted(e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(Fixpoint.sizedPartitions(e.sparkSession, n), col("src")))

  /** Top-k by rank, deterministic tie-break on vertex id
    * (PageRankDataSet/.../FollowerCount.scala:76). Catalyst plans this as
    * TakeOrderedAndProject — no global sort materialization. */
  def topK(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(desc("rank"), asc("vertex")).limit(k)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.graph.{Graphs, Hits, KMeans, PageRank, ShortestPath, Triangles}
import graft.iterate.Fixpoint

/** Graph-algorithm coverage (SURVEY §2 + §7.2 steps 3-6) as named queries.
  *
  * Even the iterative algorithms are oracle-checked: the DuckDB SQL unrolls
  * the fixed iteration count as chained CTEs (PageRank, k-means) or uses a
  * recursive CTE (SSSP). All arithmetic is arranged to be bit-deterministic
  * across engines (single-element sums, exact integral moments); PageRank's
  * dangling delta is a genuine multi-element double sum, so ranks are
  * rounded to 9 decimals on both sides.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** shared derivation of the test graph (bounded vertex space — see
    * Graphs.lineitemEdges) and its SQL twin */
  private val Mod = 300
  private val edgesSql =
    s"""edges AS (
       |  SELECT DISTINCT l_orderkey % $Mod AS src, l_partkey % $Mod AS dst
       |  FROM lineitem WHERE l_orderkey % $Mod <> l_partkey % $Mod)""".stripMargin

  // SSSP: engine iteration bound and oracle recursion cap must agree
  private val SsspMaxHops = 30
  // Weighted SSSP relaxes more rounds than the unweighted diameter (a
  // cheap many-edge path can thread far past 30 hops), and its oracle is
  // distance-bounded EXACT rather than round-bounded — so the engine must
  // actually reach the fixpoint. The loop exits early on convergence, so
  // the extra headroom costs nothing on the graphs we run.
  private val SsspWeightedMaxIter = 120
  // PageRank workload: the reference's published configuration — k=100
  // (10,000 real vertices + dummy), 10 iterations
  // (PageRankRDD/Makefile:12 `local.input=100`, .../FollowerCount.scala:58)
  private val PrK = 100
  private val PrIters = 10
  // K-means workload: k=4 centroids, 5 fixed iterations over the
  // follower-count distribution (K-means/Makefile:9)
  private val KmInit = Seq(2.0, 6.0, 10.0, 18.0)
  private val KmIters = 5
  // CC chain fixture: 5 disjoint paths of 60 vertices (diameter 59 —
  // far past the linear HashMin bound) resolved by pointer doubling;
  // engine iteration bound and oracle unroll count must agree
  private val CcChainLen = 60
  private val CcChains = 5
  private val CcRounds = Graphs.DefaultDoublingRounds
  // k-core: sparser modulus so small scale factors actually peel; engine
  // round bound and oracle unroll count must agree
  private val KCoreK = 8
  private val KCoreMod = 1000
  private val KCoreRounds = Graphs.DefaultKCoreRounds
  // LPA: engine round count and oracle unroll count must agree
  private val LpaRounds = Graphs.DefaultLpaRounds
  // modularity is scored on the residue-sharded cut (edges within vertex%4
  // classes only) so the LPA partition stays multi-community at every sf —
  // engine filter and oracle graph CTE share the shard count
  private val ModularityShards = 4
  // coloring fixture: bounded-degree ring-offset graph (max degree ~16 at
  // sf0.1), the regime where Jones-Plassmann's decreasing-path depth stays
  // under the round budget; engine derivation and oracle CTE must agree
  private val ColoringMod = 20000
  private def coloringEdges(s: SparkSession, d: String) = {
    val li = Tables.lineitem(s, d)
    li.select((col("l_orderkey") % ColoringMod).cast("long").as("src"),
        ((col("l_orderkey") % ColoringMod + 1 + col("l_partkey") % 8)
          % ColoringMod).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
  }
  // densest-subgraph fixture: sparse background (Mod-200000 cut — near
  // the identity mapping at small sfs, so background density stays ~4)
  // plus a planted 40-vertex near-clique built from hash-decorrelated
  // blob ids on a 1-in-5 row slice (linear id mixes collapse under the
  // slice residue — DuckDB-probed; the multiplicative hash spreads the
  // grid). The peel isolates exactly the planted core at every sf
  // (density 15.4/19.5/13.7 vs background ~4).
  private val DsgMod = 200000
  private val DsgCore = 40
  private val DsgSlice = 5
  private[graft] def densestEdges(s: SparkSession, d: String): DataFrame = {
    def hp(c: org.apache.spark.sql.Column) =
      c % 2147483647L * 2654435761L % 2147483647L
    val li = Tables.lineitem(s, d)
    val bg = li.select((col("l_orderkey") % DsgMod).cast("long").as("src"),
      (col("l_partkey") % DsgMod).cast("long").as("dst"))
    val core = li.filter(col("l_orderkey") % DsgSlice === 0)
      .select((lit(DsgMod.toLong) + hp(col("l_orderkey")) % DsgCore).as("src"),
        (lit(DsgMod.toLong) + hp(col("l_partkey")) % DsgCore).as("dst"))
    bg.unionByName(core).filter(col("src") =!= col("dst")).distinct()
  }

  // deterministic walks: seed every WalkSeedMod'th vertex, WalkLen steps;
  // engine loop depth and oracle unroll depth must agree, and the step
  // hash ((wid % P * 131 + step + dst) % P * 2654435761 % P) is spelled
  // identically in Graphs.walkHash and the oracle windows
  private val WalkSeedMod = 3
  private val WalkLen = 4
  // negatives table: slots-with-replacement per vertex, top-NegK overall
  private val NegSlots = 4
  private val NegK = 100
  // skip-gram window for the co-occurrence pairs (DeepWalk's w)
  private val WalkWindow = 2
  // node2vec weight triple (return, common, explore) = (1/p, 1, 1/q)
  // scaled to integers: return discouraged, stay-close favored
  private val WalkWr = 1L
  private val WalkWc = 4L
  private val WalkWe = 2L
  // personalized PageRank seed set (engine IN-list and oracle CASE share it)
  private val PprSeeds = Seq(1L, 2L, 3L)
  // landmark BFS seeds (engine init table and oracle VALUES share them)
  private val LandmarkSeeds = Seq(1L, 7L, 42L)
  // local bridges: Mod-5000 keeps the derived graph sparse enough that
  // zero-support edges exist at every scale factor (measured 4812 / 47577
  // / 12 at sf0.001/0.01/0.1 — the saturating smaller mods hit 0)
  private val BridgeMod = 5000
  // common-neighbor link prediction: much sparser modulus — the Mod-300
  // graph is complete at sf0.1 (no non-adjacent pairs left to predict) and
  // even Mod-2000 reaches avg degree ~260 there, putting the wedge join's
  // Σdeg² fan-out near 2e8; at Mod-50000 the derived graph stays in the
  // sparse regime (avg degree ~25) where wedge enumeration is the right
  // plan. Top-k cut, not a count threshold (density-stable).
  private val CnMod = 50000
  private val CnMaxId = 25000
  private val CnTopK = 100
  // HITS: engine iteration count and oracle unroll depth must agree
  private val HitsIters = 5
  // k-truss: Mod-1000 graph capped at vertex id 300 keeps the wedge joins
  // bounded while the support distribution actually peels at k=4 at every
  // scale factor WITHOUT emptying the sf0.001 graph (k=5 peels it to 0 —
  // measured); engine round bound and oracle unroll count must agree
  private val KTrussK = 4
  private val KTrussMod = 1000
  private val KTrussMaxId = 300
  private val KTrussRounds = Graphs.DefaultKTrussRounds
  // sparse bench cut: mod 20000 leaves ~600k edges over 20k vertices at
  // sf0.1 (36k triangles); k=3 stays non-degenerate down to sf0.001
  private val KTrussSparseK = 3
  private val KTrussSparseMod = 20000

  val defs: Map[String, Q] = Map(
    // the reference headline: follower count on the edge relation
    // (ReduceByKey/.../FollowersCount.scala:25-29)
    "q_graph_degree" -> ((s, d) =>
      Graphs.lineitemEdges(s, d, Mod)
        .groupBy("dst").agg(count(lit(1)).as("followers"))
        .orderBy("dst")),

    // ReduceSideJoin semantics: shuffle-join triangle count with max filter
    "q_graph_triangles" -> ((s, d) =>
      Triangles.countShuffle(Graphs.lineitemEdges(s, d, Mod), maxId = 200)),

    // RepJoin semantics: broadcast-join triangle count, tighter bound
    "q_graph_triangles_bc" -> ((s, d) =>
      Triangles.countBroadcast(Graphs.lineitemEdges(s, d, Mod), maxId = 150)),

    // per-vertex triangles + local clustering coefficient (density screen)
    "q_graph_clustering" -> ((s, d) =>
      Triangles.clusteringCoefficient(Graphs.lineitemEdges(s, d, Mod), maxId = 150)
        .orderBy("vertex")),

    // common-neighbor link prediction: top-k non-adjacent pairs by shared-
    // neighbor count over the sparse derived graph ("people you may know")
    "q_graph_commonneighbors" -> ((s, d) =>
      Triangles.commonNeighbors(Graphs.lineitemEdges(s, d, CnMod),
        maxId = CnMaxId, k = CnTopK)),

    // Jaccard-normalized variant: |N∩|/|N∪| damps hub bias; top-k by the
    // exact int-ratio score
    "q_graph_linkpred_jaccard" -> ((s, d) =>
      Triangles.jaccardLinkPred(Graphs.lineitemEdges(s, d, CnMod),
        maxId = CnMaxId, k = CnTopK)),

    // k-truss cohesion screen: surviving undirected edges (+ final
    // triangle support) after peeling every edge with < k-2 triangles —
    // the edge-centric sibling of k-core. This is the DENSE correctness
    // fixture (~70% density at sf0.1): it exercises peeling on the regime
    // the wedge-budget guard exists to warn about, so it opts out of the
    // guard explicitly. Catalog+verify only — the sparse variant below is
    // the benched one.
    "q_graph_ktruss" -> ((s, d) => {
      val e = Tables.lineitem(s, d).select(
          (col("l_orderkey") % KTrussMod).cast("long").as("src"),
          (col("l_partkey") % KTrussMod).cast("long").as("dst"))
        .filter(col("src") =!= col("dst") &&
          col("src") <= KTrussMaxId && col("dst") <= KTrussMaxId)
        .distinct()
      Graphs.kTruss(e, KTrussK, KTrussRounds, maxWedges = Long.MaxValue)
        .orderBy("src", "dst")
    }),

    // k-truss on a SPARSE cut (20k vertices, avg degree ~30 at sf0.1 —
    // the shape production graphs actually have): k=3 keeps every edge in
    // at least one triangle. Runs under the default wedge budget and is
    // in the bench set so peel cost is tracked per round.
    "q_graph_ktruss_sparse" -> ((s, d) =>
      Graphs.kTruss(Graphs.lineitemEdges(s, d, KTrussSparseMod), KTrussSparseK, KTrussRounds)
        .orderBy("src", "dst")),

    // in-degree distribution: vertices per degree value — the first plot
    // made of any new graph (power-law check, hub detection); two tiny
    // hash aggregates
    "q_graph_degree_dist" -> ((s, d) =>
      Graphs.lineitemEdges(s, d, Mod)
        .groupBy("dst").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
        .orderBy("deg")),

    // local bridges (Granovetter weak ties): undirected edges with zero
    // triangle support — the structural cut-candidate screen
    "q_graph_bridges" -> ((s, d) =>
      Graphs.localBridges(Graphs.lineitemEdges(s, d, BridgeMod))
        .orderBy("src", "dst")),

    // degree assortativity: Pearson correlation between out-degree(src)
    // and in-degree(dst) over the edge relation — do hubs link to hubs?
    // All six moments are exact int64 sums (bounded: deg <= Mod, edges <=
    // Mod², every product < 2^53), so the final correlation is one
    // IEEE-identical expression on both engines. Two degree aggregates +
    // two broadcast-able joins + one global agg — no all-pairs anywhere.
    "q_graph_assortativity" -> ((s, d) => {
      val e = Graphs.lineitemEdges(s, d, Mod)
      val dx = e.groupBy("src").agg(count(lit(1)).as("dx"))
      val dy = e.groupBy("dst").agg(count(lit(1)).as("dy"))
      e.join(dx, "src").join(dy, "dst")
        .agg(count(lit(1)).as("n_edges"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
        .select(col("n_edges"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"),
          ((col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_edges") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n_edges") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("assortativity"))
        .orderBy("n_edges") // single row; total-ORDER-BY rule kept literal
    }),

    // reciprocal-edge profile: per-vertex count of mutual (follow-back)
    // edges — one self-join of the distinct edge relation on the swapped
    // key, partitioned like any equi-join; the reciprocity screen used on
    // social graphs
    "q_graph_mutual" -> ((s, d) => {
      val e = Graphs.lineitemEdges(s, d, Mod)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      e.join(rev, Seq("src", "dst"), "left_semi")
        .groupBy(col("src").as("vertex")).agg(count(lit(1)).as("n_mutual"))
        .orderBy("vertex")
    }),

    "q_graph_sssp" -> ((s, d) =>
      ShortestPath.run(Graphs.lineitemEdges(s, d, Mod), source = 1L, maxIter = SsspMaxHops)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"))
        .orderBy("vertex")),

    // weighted SSSP on the derived graph with integer weights 1..5 (min
    // weight per distinct edge — deterministic): a cheap multi-hop path
    // beats an expensive direct edge, which unit-hop BFS cannot express
    "q_graph_sssp_weighted" -> ((s, d) => {
      val we = Tables.lineitem(s, d)
        .select((col("l_orderkey") % Mod).as("src"), (col("l_partkey") % Mod).as("dst"),
          (lit(1.0) + col("l_quantity") % 5).as("w"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(min("w").as("w"))
      ShortestPath.runWeighted(we, source = 1L, maxIter = SsspWeightedMaxIter)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"))
        .orderBy("vertex")
    }),

    // incremental weighted SSSP: relax the ~80% "old" edge cut to a
    // stored distance table, then fold the ~20% batch in — stored
    // distances stay exact upper bounds under edge additions (Bellman-
    // Ford invariant), so the frontier seeds from one pass through the
    // new edges alone and only the affected region re-relaxes. The
    // fixpoint is unique, so the oracle IS the batch SQL on the full set.
    "q_graph_sssp_weighted_inc" -> ((s, d) => {
      // weighted edge relation materialized ONCE as a leaf (r17, guide
      // §2.4): three consumers re-derived the scan + min-agg shuffle (old
      // cut inside runWeighted, the merged set inside incrementalWeighted,
      // and the batch read directly by the seed pass). Bounded at any
      // scale: ≤ Mod² (src,dst) pairs regardless of corpus size.
      val we = Fixpoint.materializedLeaf(Tables.lineitem(s, d)
        .select((col("l_orderkey") % Mod).as("src"), (col("l_partkey") % Mod).as("dst"),
          (lit(1.0) + col("l_quantity") % 5).as("w"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(min("w").as("w")))
      val old = we.filter((col("src") + col("dst")) % 5 =!= 0)
      val batch = we.filter((col("src") + col("dst")) % 5 === 0)
      val stored = ShortestPath.runWeighted(old, source = 1L, maxIter = SsspWeightedMaxIter)
      ShortestPath.incrementalWeighted(stored, batch, we, maxIter = SsspWeightedMaxIter)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"))
        .orderBy("vertex")
    }),

    // the stored-index twin (q_dedup_incremental_idx pattern): the old-cut
    // distances are MATERIALIZED (as a real pipeline would persist the
    // prior run's output), so this entry prices steady-state ingest — one
    // seed pass over the 20% batch + the affected-region relax — with the
    // batch build amortized away. Same oracle: the Bellman-Ford fixpoint
    // is unique, so stored-seeded ≡ batch on the full edge set.
    "q_graph_sssp_weighted_inc_idx" -> ((s, d) => {
      // same one-leaf edge materialization as q_graph_sssp_weighted_inc
      val we = Fixpoint.materializedLeaf(Tables.lineitem(s, d)
        .select((col("l_orderkey") % Mod).as("src"), (col("l_partkey") % Mod).as("dst"),
          (lit(1.0) + col("l_quantity") % 5).as("w"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(min("w").as("w")))
      val old = we.filter((col("src") + col("dst")) % 5 =!= 0)
      val batch = we.filter((col("src") + col("dst")) % 5 === 0)
      val stored = Fixpoint.materializedLeaf(
        ShortestPath.runWeighted(old, source = 1L, maxIter = SsspWeightedMaxIter))
      ShortestPath.incrementalWeighted(stored, batch, we, maxIter = SsspWeightedMaxIter)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"))
        .orderBy("vertex")
    }),

    // landmark distances: BFS from a seed SET in one fixpoint — the
    // distance-sketch / graph-feature building block ("how far is every
    // vertex from each hub")
    "q_graph_landmarks" -> ((s, d) =>
      ShortestPath.multiSourceBfs(Graphs.lineitemEdges(s, d, Mod), LandmarkSeeds,
          maxIter = SsspMaxHops)
        .orderBy("seed", "vertex")),

    // SSSP with path payload (ShortestPathMR semantics). No SQL oracle:
    // oracle: unrolled per-vertex-min BFS (ssspPathSql) — one lex-min
    // path per vertex per round, so the dense cyclic graph that explodes
    // an all-walks recursive CTE stays linear; GraphSpec additionally
    // covers the semantics on hand-computed fixtures.
    "q_graph_sssp_path" -> ((s, d) =>
      ShortestPath.runWithPath(Graphs.lineitemEdges(s, d, Mod), source = 1L, maxIter = SsspMaxHops)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"),
          concat_ws(" ", col("path")).as("path"))
        .orderBy("vertex")),

    // path-SSSP with a full oracle: on a tree-shaped derived graph
    // (parent v div 2 -> child v) every vertex has a unique path, so the
    // recursive CTE enumerates without explosion — unlike the dense-graph
    // variant above, which stays rows-only
    "q_graph_sssp_path_tree" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.select(
          ((col("l_orderkey") % 1000) / 2).cast("long").as("src"),
          (col("l_orderkey") % 1000).cast("long").as("dst"))
        .filter(col("dst") >= 2)
        .distinct()
      ShortestPath.runWithPath(edges, source = 1L, maxIter = 15)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"),
          concat_ws(" ", col("path")).as("path"))
        .orderBy("vertex")
    }),

    "q_graph_pagerank" -> ((s, d) =>
      PageRank.run(Graphs.kChain(s, PrK), PrIters, dummy = 0L,
          realVertexCount = PrK.toLong * PrK)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")),

    // mass-push PageRank on a general derived graph: exercises the
    // out-degree division (every reference vertex has outdeg 1) and
    // vertex-0-as-dangling-sink semantics on a cyclic multigraph
    "q_graph_pagerank_general" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val nReal = Graphs.vertices(edges).filter(col("vertex") =!= 0).count()
      PageRank.run(edges, PrIters, dummy = 0L, realVertexCount = nReal)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")
    }),

    // HITS hubs & authorities on the derived graph: the transpose-
    // direction companion to PageRank (auth pulls over in-edges, hub over
    // out-edges), L1-normalized per half-step; oracle = unrolled CTE with
    // the same normalization order, scores rounded to 9 dp on both sides
    "q_graph_hits" -> ((s, d) =>
      Hits.run(Graphs.lineitemEdges(s, d, Mod), HitsIters)
        .select(col("vertex"), round(col("hub"), 9).as("hub"),
          round(col("auth"), 9).as("auth"))
        .orderBy("vertex")),

    // classic damped PageRank (teleport 0.15) on the derived graph — the
    // modern formulation the reference omits; dangling mass comes from
    // genuine no-out-edge vertices, not a synthetic dummy sink
    "q_graph_pagerank_damped" -> ((s, d) =>
      PageRank.runDamped(Graphs.lineitemEdges(s, d, Mod), PrIters)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")),

    // warm-start damped PageRank (the snapshot-resume ingest path): 4
    // rounds to a stored snapshot, then runDampedFrom continues for the
    // remaining 6 on the same graph. The oracle replays BOTH stages fully
    // unrolled (pagerankGrownSql with old cut == full graph), proving the
    // warm path directly; the continuation law (warm == unbroken up to
    // ~1e-14 accumulation-order noise) is separately GraphSpec-enforced,
    // so hash certification no longer leans on the round(9) grid margin.
    "q_graph_pagerank_warm" -> ((s, d) => {
      // edge derivation materialized ONCE as a leaf (r17, guide §2.4):
      // both stages (runDamped, runDampedFrom) persist their own edge
      // cache from it — without the leaf each stage re-ran the lineitem
      // scan + distinct shuffle. Bounded: ≤ Mod² pairs at any corpus size.
      val e = Fixpoint.materializedLeaf(
        Graphs.lineitemEdges(s, d, Mod))
      val snapshot = Fixpoint.materializedLeaf(PageRank.runDamped(e, 4))
      PageRank.runDampedFrom(snapshot, e, PrIters - 4)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")
    }),

    // warm-start on a GROWN graph — the evolving-graph ingest path: rank
    // the 80% cut to a stored snapshot, then fold the full graph in from
    // those ranks (new vertices seed at the updated graph's uniform, the
    // teleport/dangling terms switch to the full graph). No fixpoint
    // equality shortcut exists here (the old and full graphs have
    // different fixpoints), so the oracle is BOTH stages fully unrolled.
    "q_graph_pagerank_grown" -> ((s, d) => {
      // same one-leaf edge materialization as q_graph_pagerank_warm
      val e = Fixpoint.materializedLeaf(
        Graphs.lineitemEdges(s, d, Mod))
      val old = e.filter((col("src") + col("dst")) % 5 =!= 0)
      val snapshot = Fixpoint.materializedLeaf(PageRank.runDamped(old, 4))
      PageRank.runDampedFrom(snapshot, e, PrIters - 4)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")
    }),

    // personalized PageRank from a 3-seed set: proximity-to-seeds scores,
    // the graph-recommendation primitive ("vertices like these")
    "q_graph_ppr" -> ((s, d) =>
      PageRank.runPersonalized(Graphs.lineitemEdges(s, d, Mod), PprSeeds, PrIters)
        .select(col("vertex"), round(col("rank"), 9).as("pr"))
        .orderBy("vertex")),

    // pointer-doubling CC on the adversarial long-chain fixture: each
    // component's diameter (59) exceeds the linear HashMin round bound,
    // so only the O(log d) doubling variant labels it correctly
    "q_graph_cc_chain" -> ((s, d) =>
      Graphs.connectedComponentsDoubling(Graphs.chainPaths(s, CcChainLen, CcChains), CcRounds)
        .orderBy("vertex")),

    // doubling CC on the derived lineitem graph (real-scan input)
    "q_graph_cc" -> ((s, d) =>
      Graphs.connectedComponentsDoubling(Graphs.lineitemEdges(s, d, Mod), CcRounds)
        .orderBy("vertex")),

    // incremental CC: label the ~80% "existing" edge set, then fold the
    // ~20% batch in via quotient-graph CC + broadcast remap — the stored
    // labeling never reshuffles. Oracle replays both stages unrolled.
    "q_graph_cc_inc" -> ((s, d) => {
      // the distinct edge relation feeds BOTH cuts, and each cut has
      // multiple consumers (each cut's pinned closure input, the quotient
      // joins) — materialized ONCE as a leaf (r17, guide §2.4): the old
      // plan re-ran the lineitem scan + distinct shuffle per consumer
      // (~6 corpus passes per query). Bounded at any scale: the relation
      // holds ≤ BridgeMod² vertex pairs regardless of corpus size.
      val e = Fixpoint.materializedLeaf(
        Graphs.lineitemEdges(s, d, BridgeMod))
      val labels = Graphs.connectedComponents(
        e.filter((col("src") + col("dst")) % 5 =!= 0))
      Graphs.incrementalComponents(labels,
          e.filter((col("src") + col("dst")) % 5 === 0))
        .orderBy("vertex")
    }),

    // stored-index twin: the existing labeling is MATERIALIZED (the prior
    // run's persisted output), so only the quotient-graph fold is priced —
    // the steady-state ingest cost the incremental design actually buys.
    // Identical oracle (quotient CC + remap ≡ the two-stage replay).
    "q_graph_cc_inc_idx" -> ((s, d) => {
      // same one-leaf edge materialization as q_graph_cc_inc (r17 §2.4)
      val e = Fixpoint.materializedLeaf(
        Graphs.lineitemEdges(s, d, BridgeMod))
      val labels = Fixpoint.materializedLeaf(Graphs.connectedComponents(
          e.filter((col("src") + col("dst")) % 5 =!= 0)))
      Graphs.incrementalComponents(labels,
          e.filter((col("src") + col("dst")) % 5 === 0))
        .orderBy("vertex")
    }),

    // synchronous label-propagation communities (frequency-driven, unlike
    // CC's pure reachability): deterministic self-vote variant, fixed
    // round count shared with the oracle's unroll
    "q_graph_lpa" -> ((s, d) =>
      Graphs.labelPropagation(Graphs.lineitemEdges(s, d, Mod), LpaRounds)
        .orderBy("vertex")),

    // k-core peeling (graph curation): vertices of the maximal subgraph
    // with undirected degree >= k, with their surviving degrees
    "q_graph_kcore" -> ((s, d) =>
      Graphs.kCore(Graphs.lineitemEdges(s, d, KCoreMod), KCoreK, KCoreRounds)
        .orderBy("vertex")),

    // densest subgraph (greedy peel, Charikar/Bahmani-et-al.): strip
    // below-(3/2)·avg-degree vertices each round, keep the densest
    // intermediate set — the dense-community extractor; all density
    // comparisons are exact integer cross-multiplications, and the
    // fixture's planted near-clique is recovered exactly at every sf
    "q_graph_densest" -> ((s, d) =>
      Graphs.densestSubgraph(densestEdges(s, d)).orderBy("vertex")),

    // full core decomposition (iterated h-index): every vertex labeled
    // with its maximal k — the whole onion where q_graph_kcore answers
    // one k; the density score graph curation ranks documents'
    // link-neighborhoods by. Default plan is the hub-safe bucketed
    // h-index (round-13 bench-lead swap: 2.0-2.7x faster than the rank
    // window at every measured point and flat under a degree-12k hub)
    "q_graph_coreness" -> ((s, d) =>
      Graphs.coreness(Graphs.lineitemEdges(s, d, KCoreMod))
        .orderBy("vertex")),

    // didactic rank-window twin: the literal textbook h-index (per-vertex
    // degree-sized sort — the hub hazard the bucketed default retires) —
    // shares q_graph_coreness's oracle SQL VERBATIM, the
    // chunked-sessionize proof shape: same answer, two plans
    "q_graph_coreness_window" -> ((s, d) =>
      Graphs.corenessWindow(Graphs.lineitemEdges(s, d, KCoreMod))
        .orderBy("vertex")),

    // deterministic Luby MIS: hash-priority local minima join the set,
    // neighbors drop out; the classic distributed symmetry breaker —
    // the whole peel (priorities, winners, domination, rounds) replays
    // in the oracle's unrolled CTEs
    "q_graph_mis" -> ((s, d) =>
      Graphs.maximalIndependentSet(Graphs.lineitemEdges(s, d, Mod))
        .orderBy("vertex")),

    // deterministic Israeli-Itai maximal matching: round-salted coins
    // split senders/receivers, hash-chosen proposals + min-hash
    // acceptance marry disjoint pairs — the distributed pairing
    // primitive behind graph coarsening
    "q_graph_matching" -> ((s, d) =>
      Graphs.maximalMatching(Graphs.lineitemEdges(s, d, Mod))
        .orderBy("a")),

    // 2-approximate minimum vertex cover = matched endpoints; maximality
    // of the matching IS the cover property, the 2x bound is the
    // textbook guarantee
    "q_graph_vcover" -> ((s, d) =>
      Graphs.vertexCover(Graphs.lineitemEdges(s, d, Mod))
        .orderBy("vertex")),

    // strongly connected components (coloring algorithm): the DIRECTED
    // component analysis CC cannot express; phase peel of forward
    // max-color + backward root-reach, GraphSpec-pinned against Tarjan.
    // STRICT variant (round 11): the certification now proves FULL
    // decision — a phase/round budget that left any vertex at scc = -1
    // fails the query instead of hash-matching by bound contract
    "q_graph_scc" -> ((s, d) =>
      Graphs.stronglyConnectedComponentsStrict(Graphs.lineitemEdges(s, d, Mod))
        .orderBy("vertex")),

    // condensation layering: contract SCCs, longest-path level over the
    // acyclic condensation — the dependency-scheduling number, well-
    // defined on cyclic graphs because cycles collapse into their SCC;
    // strict for the same reason as q_graph_scc (a -1 residue would also
    // corrupt the layering by lumping undecided vertices into one node)
    "q_graph_scc_levels" -> ((s, d) =>
      Graphs.sccCondensationLevels(Graphs.lineitemEdges(s, d, Mod), strict = true)
        .orderBy("vertex")),

    // Jones–Plassmann greedy coloring on the degree-capped ring-offset
    // cut (JP's round count = longest priority-decreasing path, so the
    // fixture must be bounded-degree: measured 12/14/18 rounds at
    // sf0.001/0.01/0.1 against the 20-round budget — every vertex
    // decides at every sf). The conflict-free-scheduling primitive.
    "q_graph_coloring" -> ((s, d) => {
      Graphs.greedyColoring(coloringEdges(s, d)).orderBy("vertex")
    }),

    // deterministic random walks (DeepWalk/node2vec sampling): one
    // length-WalkLen walk per seed vertex, next hop = out-neighbor
    // minimizing the (walk, step, dst) hash — the graph-embedding corpus
    // generator, bit-reproducible with no RNG; the oracle unrolls the
    // steps with the identical hash in each window
    "q_graph_walks" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val seeds = Graphs.vertices(edges)
        .filter(col("vertex") % WalkSeedMod === 0)
      Graphs.deterministicWalks(edges, seeds, WalkLen)
        .orderBy("walk_id", "step")
    }),

    // node2vec-style second-order walks: the p/q-weighted variant — the
    // candidate's relation to the PREVIOUS vertex (return / common
    // neighbor / explore) weighs the priority draw; same seeds and
    // length as q_graph_walks so the two corpora are comparable
    "q_graph_walks_biased" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val seeds = Graphs.vertices(edges)
        .filter(col("vertex") % WalkSeedMod === 0)
      Graphs.biasedWalks(edges, seeds, WalkLen, WalkWr, WalkWc, WalkWe)
        .orderBy("walk_id", "step")
    }),

    // skip-gram co-occurrence over the walk corpus: the (center, context)
    // count relation DeepWalk trains word2vec on — walks composed with
    // the windowed self-join, aggregated per ordered pair
    "q_graph_walk_pairs" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val seeds = Graphs.vertices(edges)
        .filter(col("vertex") % WalkSeedMod === 0)
      Graphs.walkCooccurrence(
          Graphs.deterministicWalks(edges, seeds, WalkLen), WalkWindow)
        .orderBy("center", "context")
    }),

    // SGNS negative-sampling noise table: freq^0.75-weighted priority
    // draws over the walk corpus (w = sqrt(f·sqrt(f)) — a fixed tree of
    // correctly-rounded IEEE ops, so no pow() and no cross-engine drift),
    // top NegK by q = w·P/(h+1) via a bounded heap — the third leg of the
    // walks → skip-gram pairs → negatives embedding-corpus triple
    "q_graph_walk_negatives" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val seeds = Graphs.vertices(edges)
        .filter(col("vertex") % WalkSeedMod === 0)
      Graphs.walkNegatives(
          Graphs.deterministicWalks(edges, seeds, WalkLen), NegSlots, NegK)
        .orderBy("vertex", "slot")
    }),

    // modularity of the LPA partition, exact-integer numerators:
    // Q = Σ q_num / (2m)² — "how good is this clustering", the score that
    // turns labelPropagation from a transform into a measurable result.
    // Scored on the residue-SHARDED cut (edges only within vertex%4
    // classes): the dense Mod graph collapses to ONE community under LPA
    // at every sf, whose q_num is algebraically 0 (4m·m − (2m)² = 0) —
    // the shards force ≥4 communities so the scoring CTEs are exercised
    // nontrivially end-to-end (q_num = 4·m_c·(m − m_c) ≠ 0 per shard)
    "q_graph_modularity" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
        .filter(col("src") % ModularityShards === col("dst") % ModularityShards)
      val labels = Graphs.labelPropagation(edges, LpaRounds)
      Graphs.modularityByCommunity(edges, labels).orderBy("label")
    }),

    // landmark closeness: aggregate the multi-source BFS sketch into
    // per-vertex (reached-seed count, distance sum) — the centrality
    // feature computed from k BFS passes instead of n (k = |seeds|)
    "q_graph_closeness" -> ((s, d) =>
      ShortestPath.multiSourceBfs(Graphs.lineitemEdges(s, d, Mod), LandmarkSeeds,
          maxIter = SsspMaxHops)
        .groupBy("vertex")
        .agg(count(lit(1)).as("nseeds"), sum("dist").as("sumdist"))
        .orderBy("vertex")),

    // diameter lower bound by double sweep: BFS from a fixed start, BFS
    // again from the farthest vertex found (ties → smallest id); the
    // second eccentricity is the classic 2-BFS diameter estimate. The
    // argmax hop is a 1-row collect (k-row contract, like KMeans).
    "q_graph_diameter" -> ((s, d) => {
      val edges = Graphs.lineitemEdges(s, d, Mod)
      val d1 = ShortestPath.run(edges, source = 1L, maxIter = SsspMaxHops)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(col("vertex"), col("dist").cast("long").as("dist"))
      val far = d1.orderBy(col("dist").desc, col("vertex").asc).head()
      val farV = far.getLong(0)
      val ecc1 = far.getLong(1)
      ShortestPath.run(edges, source = farV, maxIter = SsspMaxHops)
        .filter(col("dist") =!= Double.PositiveInfinity)
        .agg(max(col("dist").cast("long")).as("ecc2"))
        .select(lit(1L).as("start"), lit(farV).as("far_vertex"),
          lit(ecc1).as("ecc1"), col("ecc2"),
          greatest(lit(ecc1), col("ecc2")).as("diameter_lb"))
    }),

    "q_graph_kmeans" -> ((s, d) => {
      val pts = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).cast("double").as("x"))
      val res = KMeans.run(pts, "x", KmInit, maxIter = KmIters, fixedIter = true)
      val spark = s
      import spark.implicits._
      val cents = res.centroids.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("i", "centroid")
      val sizes = res.assignments.groupBy(col("cluster").cast("long").as("i"))
        .agg(count(lit(1)).as("n"))
      cents.join(sizes, Seq("i"), "left_outer")
        .select(col("i"), col("centroid"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("i")
    }),
  )

  // ---- oracle SQL ----

  private val degreeSql =
    s"""WITH $edgesSql
       |SELECT dst, count(*) AS followers FROM edges GROUP BY dst ORDER BY dst""".stripMargin

  private def trianglesSql(maxId: Int) =
    s"""WITH $edgesSql,
       |b AS (SELECT * FROM edges WHERE src <= $maxId AND dst <= $maxId)
       |SELECT count(*)/3 AS triangles
       |FROM b e1 JOIN b e2 ON e1.dst = e2.src
       |JOIN b e3 ON e2.dst = e3.src AND e3.dst = e1.src""".stripMargin

  private def clusteringSql(maxId: Int) =
    s"""WITH $edgesSql,
       |b AS (SELECT * FROM edges WHERE src <= $maxId AND dst <= $maxId),
       |und AS MATERIALIZED (SELECT DISTINCT * FROM (
       |  SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b)),
       |deg AS MATERIALIZED (SELECT src AS vertex, count(*) AS deg FROM und GROUP BY src),
       |tri AS MATERIALIZED (
       |  SELECT a.src AS vertex, count(*) AS tri
       |  FROM und a JOIN und b2 ON a.src = b2.src AND a.dst < b2.dst
       |  JOIN und e ON e.src = a.dst AND e.dst = b2.dst
       |  GROUP BY a.src)
       |SELECT d.vertex, d.deg, coalesce(t.tri, 0) AS tri,
       |  CASE WHEN d.deg >= 2
       |       THEN CAST(2 * coalesce(t.tri, 0) AS DOUBLE) / (d.deg * (d.deg - 1))
       |       ELSE 0.0 END AS coef
       |FROM deg d LEFT JOIN tri t ON d.vertex = t.vertex
       |ORDER BY d.vertex""".stripMargin

  /** shared CTE chain for both link-prediction oracles: sparse derived
    * graph → bounded undirected set → per-pair common-neighbor counts */
  private val cnCtes =
    s"""cedges AS (
       |  SELECT DISTINCT l_orderkey % $CnMod AS src, l_partkey % $CnMod AS dst
       |  FROM lineitem WHERE l_orderkey % $CnMod <> l_partkey % $CnMod),
       |b AS (SELECT * FROM cedges WHERE src <= $CnMaxId AND dst <= $CnMaxId),
       |und AS MATERIALIZED (SELECT DISTINCT * FROM (
       |  SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b)),
       |w AS MATERIALIZED (
       |  SELECT a.dst AS u, b2.dst AS v, count(*) AS cn
       |  FROM und a JOIN und b2 ON a.src = b2.src AND a.dst < b2.dst
       |  GROUP BY 1, 2)""".stripMargin

  private val commonNeighborsSql =
    s"""WITH $cnCtes
       |SELECT u, v, cn FROM w
       |WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = w.u AND e.dst = w.v)
       |ORDER BY cn DESC, u, v LIMIT $CnTopK""".stripMargin

  private val linkpredJaccardSql =
    s"""WITH $cnCtes,
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |nw AS MATERIALIZED (
       |  SELECT u, v, cn FROM w
       |  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = w.u AND e.dst = w.v))
       |SELECT u, v, cn,
       |  CAST(cn AS DOUBLE) / (du.deg + dv.deg - cn) AS score
       |FROM nw JOIN deg du ON du.src = nw.u JOIN deg dv ON dv.src = nw.v
       |ORDER BY score DESC, u, v LIMIT $CnTopK""".stripMargin

  private def ssspSql =
    s"""WITH RECURSIVE $edgesSql,
       |walk(vertex, dist) AS (
       |  SELECT CAST(1 AS BIGINT) AS vertex, 0 AS dist
       |  UNION
       |  SELECT e.dst AS vertex, w.dist + 1 AS dist
       |  FROM walk w JOIN edges e ON e.src = w.vertex
       |  WHERE w.dist < $SsspMaxHops)
       |SELECT vertex, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY vertex ORDER BY vertex""".stripMargin

  /** landmark-BFS oracle: the ssspSql recursive walk with a seed column
    * threaded through (UNION dedup keeps the recursion finite on the
    * cyclic graph, exactly as in ssspSql) */
  private def landmarksSql = {
    val seedRows = LandmarkSeeds.map(s => s"(CAST($s AS BIGINT))").mkString(", ")
    s"""WITH RECURSIVE $edgesSql,
       |seeds(seed) AS (VALUES $seedRows),
       |walk(seed, vertex, dist) AS (
       |  SELECT seed, seed AS vertex, 0 AS dist FROM seeds
       |  UNION
       |  SELECT w.seed, e.dst AS vertex, w.dist + 1 AS dist
       |  FROM walk w JOIN edges e ON e.src = w.vertex
       |  WHERE w.dist < $SsspMaxHops)
       |SELECT seed, vertex, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY seed, vertex ORDER BY seed, vertex""".stripMargin
  }

  /** Weighted-SSSP oracle: distance-bounded recursive walk. The 200 bound
    * only needs to exceed the max finite shortest distance (≤ 5·diameter,
    * well under 200 on the dense Mod-300 graph at every sf); the engine's
    * frontier converges to the same fixpoint. */
  private val ssspWeightedSql =
    s"""WITH RECURSIVE wedges AS (
       |  SELECT src, dst, min(w) AS w FROM (
       |    SELECT l_orderkey % $Mod AS src, l_partkey % $Mod AS dst,
       |           1.0 + l_quantity % 5 AS w
       |    FROM lineitem)
       |  WHERE src <> dst GROUP BY src, dst),
       |walk(vertex, dist) AS (
       |  SELECT CAST(1 AS BIGINT) AS vertex, CAST(0 AS DOUBLE) AS dist
       |  UNION
       |  SELECT e.dst AS vertex, w.dist + e.w AS dist
       |  FROM walk w JOIN wedges e ON e.src = w.vertex
       |  WHERE w.dist + e.w <= 200)
       |SELECT vertex, CAST(min(dist) AS BIGINT) AS dist
       |FROM walk GROUP BY vertex ORDER BY vertex""".stripMargin

  /** Unrolled mass-push PageRank — one CTE block per iteration, mirroring
    * PageRank.run step for step. `graphCte` must define `g(src, dst)`;
    * `nExpr` is the real-vertex-count expression (a literal for the chain
    * graph, a scalar subquery for derived graphs). */
  private def pagerankSql(graphCte: String, nExpr: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
      |v AS MATERIALIZED (SELECT src AS vertex FROM g UNION SELECT dst FROM g),
      |nr AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM v WHERE vertex <> 0),
      |r0 AS MATERIALIZED (SELECT vertex, CASE WHEN vertex = 0 THEN 0.0 ELSE 1.0/($nExpr) END AS pr FROM v)""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
        |c$i AS MATERIALIZED (SELECT g.dst AS vertex, sum(r.pr / od.outdeg) AS c
        |        FROM g JOIN od ON g.src = od.src JOIN r$p r ON g.src = r.vertex
        |        GROUP BY g.dst),
        |d$i AS MATERIALIZED (SELECT coalesce(sum(c), 0) AS delta FROM c$i WHERE vertex = 0),
        |r$i AS MATERIALIZED (SELECT m.vertex,
        |               CASE WHEN m.vertex = 0 THEN 0.0
        |                    ELSE m.pr + (SELECT delta FROM d$i)/($nExpr) END AS pr
        |        FROM (SELECT vertex, sum(c) AS pr FROM (
        |                SELECT vertex, 0.0 AS c FROM r$p
        |                UNION ALL SELECT vertex, c FROM c$i)
        |              GROUP BY vertex) m)""".stripMargin
    }
    sb ++= s"\nSELECT vertex, round(pr, 9) AS pr FROM r$iters ORDER BY vertex"
    sb.toString
  }

  /** Unrolled damped PageRank — mirrors PageRank.runDamped step for step:
    * per iteration, dangling mass over the loop-invariant no-out-edge set,
    * push with out-degree division, union-merge, then
    * teleport/N + α·(contrib + dangling/N). Ranks rounded to 9 decimals on
    * both sides (multi-element double sums). */
  private def pagerankDampedSql(graphCte: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
      |v AS MATERIALIZED (SELECT src AS vertex FROM g UNION SELECT dst FROM g),
      |nr AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |dang AS MATERIALIZED (SELECT vertex FROM v WHERE vertex NOT IN (SELECT src FROM g)),
      |r0 AS MATERIALIZED (SELECT vertex, CAST(1.0 AS DOUBLE)/(SELECT n FROM nr) AS pr FROM v)""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
        |dm$i AS MATERIALIZED (SELECT coalesce(sum(pr), 0) AS dm FROM r$p JOIN dang USING (vertex)),
        |c$i AS MATERIALIZED (SELECT g.dst AS vertex, sum(r.pr / od.outdeg) AS c
        |        FROM g JOIN od ON g.src = od.src JOIN r$p r ON g.src = r.vertex
        |        GROUP BY g.dst),
        |r$i AS MATERIALIZED (SELECT m.vertex,
        |        CAST(${PageRank.DampTeleport} AS DOUBLE)/(SELECT n FROM nr)
        |          + CAST(${PageRank.DampAlpha} AS DOUBLE) * (m.c + (SELECT dm FROM dm$i)/(SELECT n FROM nr)) AS pr
        |        FROM (SELECT vertex, sum(c) AS c FROM (
        |                SELECT vertex, 0.0 AS c FROM r$p
        |                UNION ALL SELECT vertex, c FROM c$i)
        |              GROUP BY vertex) m)""".stripMargin
    }
    sb ++= s"\nSELECT vertex, round(pr, 9) AS pr FROM r$iters ORDER BY vertex"
    sb.toString
  }

  /** Warm-start damped PageRank on a GROWN graph, fully unrolled: aRounds
    * of damped iteration over the old cut ((src+dst)%5 <> 0), then the
    * stored ranks seed bRounds over the FULL graph — vertices the growth
    * introduces start at the UPDATED graph's uniform 1/N, and the
    * teleport/dangling terms switch to the full graph's structures,
    * exactly [[graft.graph.PageRank.runDampedFrom]]'s contract. Iteration
    * arithmetic is pagerankDampedSql's, parameterized by graph alias.
    * `oldCut` is the WHERE predicate defining the old graph; "TRUE" makes
    * old == full, which replays the SAME-graph warm start (runDamped 4 →
    * runDampedFrom 6) stage-for-stage — the q_graph_pagerank_warm oracle
    * then proves the warm path directly rather than leaning on the
    * continuation law's ~1e-14 margin under the round(9) grid. */
  private def pagerankGrownSql(graphCte: String, aRounds: Int, bRounds: Int,
      oldCut: String = "(src + dst) % 5 <> 0"): String = {
    def iterOver(g: String, od: String, nr: String, dang: String,
        prev: String, cur: String, tag: String) =
      s"""dm$tag AS MATERIALIZED (SELECT coalesce(sum(pr), 0) AS dm FROM $prev JOIN $dang USING (vertex)),
         |c$tag AS MATERIALIZED (SELECT $g.dst AS vertex, sum(r.pr / $od.outdeg) AS c
         |        FROM $g JOIN $od ON $g.src = $od.src JOIN $prev r ON $g.src = r.vertex
         |        GROUP BY $g.dst),
         |$cur AS MATERIALIZED (SELECT m.vertex,
         |        CAST(${PageRank.DampTeleport} AS DOUBLE)/(SELECT n FROM $nr)
         |          + CAST(${PageRank.DampAlpha} AS DOUBLE) * (m.c + (SELECT dm FROM dm$tag)/(SELECT n FROM $nr)) AS pr
         |        FROM (SELECT vertex, sum(c) AS c FROM (
         |                SELECT vertex, 0.0 AS c FROM $prev
         |                UNION ALL SELECT vertex, c FROM c$tag)
         |              GROUP BY vertex) m)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |go AS MATERIALIZED (SELECT * FROM g WHERE $oldCut),
      |odo AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM go GROUP BY src),
      |vo AS MATERIALIZED (SELECT src AS vertex FROM go UNION SELECT dst FROM go),
      |nro AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM vo),
      |dango AS MATERIALIZED (SELECT vertex FROM vo WHERE vertex NOT IN (SELECT src FROM go)),
      |r0 AS MATERIALIZED (SELECT vertex, CAST(1.0 AS DOUBLE)/(SELECT n FROM nro) AS pr FROM vo)""".stripMargin
    for (i <- 1 to aRounds)
      sb ++= ",\n" + iterOver("go", "odo", "nro", "dango", s"r${i - 1}", s"r$i", s"a$i")
    sb ++= s""",
      |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
      |v AS MATERIALIZED (SELECT src AS vertex FROM g UNION SELECT dst FROM g),
      |nr AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |dang AS MATERIALIZED (SELECT vertex FROM v WHERE vertex NOT IN (SELECT src FROM g)),
      |s0 AS MATERIALIZED (
      |  SELECT v.vertex, coalesce(r.pr, CAST(1.0 AS DOUBLE)/(SELECT n FROM nr)) AS pr
      |  FROM v LEFT JOIN r$aRounds r USING (vertex))""".stripMargin
    for (i <- 1 to bRounds)
      sb ++= ",\n" + iterOver("g", "od", "nr", "dang", s"s${i - 1}", s"s$i", s"b$i")
    sb ++= s"\nSELECT vertex, round(pr, 9) AS pr FROM s$bRounds ORDER BY vertex"
    sb.toString
  }

  /** Unrolled personalized PageRank — pagerankDampedSql with the uniform
    * teleport/dangling target replaced by the seed indicator
    * p(v) = 1/|S| on seeds, 0 elsewhere (the engine's IN-list literal;
    * the 1/|S| double is interpolated from the SAME Scala value). */
  private def pprSql(graphCte: String, seeds: Seq[Long], iters: Int): String = {
    val pVal = (1.0 / seeds.size).toString
    def p(v: String) =
      s"CASE WHEN $v IN (${seeds.mkString(", ")}) THEN CAST($pVal AS DOUBLE) ELSE 0.0 END"
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM g GROUP BY src),
      |v AS MATERIALIZED (SELECT src AS vertex FROM g UNION SELECT dst FROM g),
      |dang AS MATERIALIZED (SELECT vertex FROM v WHERE vertex NOT IN (SELECT src FROM g)),
      |r0 AS MATERIALIZED (SELECT vertex, ${p("vertex")} AS pr FROM v)""".stripMargin
    for (i <- 1 to iters) {
      val q = i - 1
      sb ++= s""",
        |dm$i AS MATERIALIZED (SELECT coalesce(sum(pr), 0) AS dm FROM r$q JOIN dang USING (vertex)),
        |c$i AS MATERIALIZED (SELECT g.dst AS vertex, sum(r.pr / od.outdeg) AS c
        |        FROM g JOIN od ON g.src = od.src JOIN r$q r ON g.src = r.vertex
        |        GROUP BY g.dst),
        |r$i AS MATERIALIZED (SELECT m.vertex,
        |        CAST(${PageRank.DampTeleport} AS DOUBLE) * ${p("m.vertex")}
        |          + CAST(${PageRank.DampAlpha} AS DOUBLE) * (m.c + (SELECT dm FROM dm$i) * ${p("m.vertex")}) AS pr
        |        FROM (SELECT vertex, sum(c) AS c FROM (
        |                SELECT vertex, 0.0 AS c FROM r$q
        |                UNION ALL SELECT vertex, c FROM c$i)
        |              GROUP BY vertex) m)""".stripMargin
    }
    sb ++= s"\nSELECT vertex, round(pr, 9) AS pr FROM r$iters ORDER BY vertex"
    sb.toString
  }

  /** Unrolled synchronous LPA — mirrors Graphs.labelPropagation: per round,
    * neighbor labels over the undirected edge set plus a self-vote, then
    * per-vertex argmax by (count DESC, label ASC). */
  /** shared LPA unroll body (WITH … l$rounds) — lpaSql selects from it
    * directly; modularitySql appends the scoring CTEs on top of it */
  private def lpaCtes(graphCte: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |und AS MATERIALIZED (SELECT DISTINCT * FROM (
      |  SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g)),
      |l0 AS MATERIALIZED (
      |  SELECT vertex, vertex AS label FROM (SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |m$i AS MATERIALIZED (SELECT u.dst AS vertex, l.label
        |        FROM und u JOIN l$p l ON u.src = l.vertex
        |        UNION ALL SELECT vertex, label FROM l$p),
        |c$i AS MATERIALIZED (SELECT vertex, label, count(*) AS c FROM m$i GROUP BY vertex, label),
        |l$i AS MATERIALIZED (SELECT vertex, label FROM (
        |        SELECT vertex, label,
        |               row_number() OVER (PARTITION BY vertex ORDER BY c DESC, label ASC) AS rn
        |        FROM c$i) WHERE rn = 1)""".stripMargin
    }
    sb.toString
  }

  private def lpaSql(graphCte: String, rounds: Int): String =
    lpaCtes(graphCte, rounds) + s"\nSELECT vertex, label FROM l$rounds ORDER BY vertex"

  /** Modularity oracle: the LPA unroll + exact-integer scoring. und holds
    * both directions, so count(*) of intra-community directed pairs is
    * 2·L_c (even, the /2 is exact) and |und| = 2m. */
  private def modularitySql(graphCte: String, rounds: Int): String =
    s"""${lpaCtes(graphCte, rounds)},
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |tm AS MATERIALIZED (SELECT count(*) AS twom FROM und),
       |dsum AS MATERIALIZED (
       |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS degree_sum
       |  FROM deg d JOIN l$rounds l ON l.vertex = d.src GROUP BY l.label),
       |intra AS MATERIALIZED (
       |  SELECT ls.label, CAST(count(*) / 2 AS BIGINT) AS intra_edges
       |  FROM und u JOIN l$rounds ls ON ls.vertex = u.src
       |  JOIN l$rounds ld ON ld.vertex = u.dst
       |  WHERE ls.label = ld.label GROUP BY ls.label)
       |SELECT d.label, COALESCE(i.intra_edges, 0) AS intra_edges, d.degree_sum,
       |  2 * (SELECT twom FROM tm) * COALESCE(i.intra_edges, 0)
       |    - d.degree_sum * d.degree_sum AS q_num
       |FROM dsum d LEFT JOIN intra i ON i.label = d.label
       |ORDER BY d.label""".stripMargin

  /** landmark-closeness oracle: the landmarksSql walk aggregated to
    * per-vertex (reached-seed count, distance sum) */
  private def closenessSql = {
    val seedRows = LandmarkSeeds.map(s => s"(CAST($s AS BIGINT))").mkString(", ")
    s"""WITH RECURSIVE $edgesSql,
       |seeds(seed) AS (VALUES $seedRows),
       |walk(seed, vertex, dist) AS (
       |  SELECT seed, seed AS vertex, 0 AS dist FROM seeds
       |  UNION
       |  SELECT w.seed, e.dst AS vertex, w.dist + 1 AS dist
       |  FROM walk w JOIN edges e ON e.src = w.vertex
       |  WHERE w.dist < $SsspMaxHops),
       |d AS (SELECT seed, vertex, min(dist) AS dist FROM walk GROUP BY seed, vertex)
       |SELECT vertex, count(*) AS nseeds, CAST(sum(dist) AS BIGINT) AS sumdist
       |FROM d GROUP BY vertex ORDER BY vertex""".stripMargin
  }

  /** double-sweep oracle: two chained recursive BFS walks; the second's
    * seed reads the first's argmax row (dist DESC, vertex ASC — the
    * engine's exact tie-break) */
  private def diameterSql =
    s"""WITH RECURSIVE $edgesSql,
       |w1(vertex, dist) AS (
       |  SELECT CAST(1 AS BIGINT) AS vertex, 0 AS dist
       |  UNION
       |  SELECT e.dst AS vertex, w.dist + 1 AS dist
       |  FROM w1 w JOIN edges e ON e.src = w.vertex
       |  WHERE w.dist < $SsspMaxHops),
       |d1 AS MATERIALIZED (SELECT vertex, min(dist) AS dist FROM w1 GROUP BY vertex),
       |far AS MATERIALIZED (SELECT vertex, dist FROM d1 ORDER BY dist DESC, vertex LIMIT 1),
       |w2(vertex, dist) AS (
       |  SELECT vertex, 0 AS dist FROM far
       |  UNION
       |  SELECT e.dst AS vertex, w.dist + 1 AS dist
       |  FROM w2 w JOIN edges e ON e.src = w.vertex
       |  WHERE w.dist < $SsspMaxHops),
       |d2 AS (SELECT vertex, min(dist) AS dist FROM w2 GROUP BY vertex)
       |SELECT CAST(1 AS BIGINT) AS start,
       |  (SELECT vertex FROM far) AS far_vertex,
       |  (SELECT CAST(dist AS BIGINT) FROM far) AS ecc1,
       |  (SELECT CAST(max(dist) AS BIGINT) FROM d2) AS ecc2,
       |  greatest((SELECT CAST(dist AS BIGINT) FROM far),
       |           (SELECT CAST(max(dist) AS BIGINT) FROM d2)) AS diameter_lb""".stripMargin

  /** Unrolled deterministic Luby MIS — one (active, neighbor-min,
    * winners, dominated, state) CTE block per round, mirroring
    * Graphs.maximalIndependentSet: the packed priority key (mult-hash
    * high bits, id low bits) is pure int64 arithmetic, so winner
    * selection, domination, and the round stamp replay exactly.
    * Post-convergence rounds are no-ops in both engines. */
  private def misSql(graphCte: String, rounds: Int): String = {
    val pkey = "vertex % 2147483647 * 2654435761 % 2147483647 * 4294967296 + vertex"
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |und AS MATERIALIZED (SELECT DISTINCT * FROM (
      |  SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g)),
      |st0 AS MATERIALIZED (
      |  SELECT vertex, $pkey AS pkey, 0 AS status, CAST(-1 AS BIGINT) AS rnd
      |  FROM (SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |a$i AS MATERIALIZED (SELECT vertex, pkey FROM st$p WHERE status = 0),
        |nm$i AS MATERIALIZED (
        |  SELECT u.dst AS vertex, min(a.pkey) AS nbr_min
        |  FROM und u JOIN a$i a ON a.vertex = u.src GROUP BY u.dst),
        |w$i AS MATERIALIZED (
        |  SELECT a.vertex FROM a$i a LEFT JOIN nm$i n ON n.vertex = a.vertex
        |  WHERE n.nbr_min IS NULL OR a.pkey < n.nbr_min),
        |dm$i AS MATERIALIZED (
        |  SELECT DISTINCT u.dst AS vertex FROM und u JOIN w$i w ON w.vertex = u.src),
        |st$i AS MATERIALIZED (
        |  SELECT s.vertex, s.pkey,
        |    CASE WHEN s.status = 0 AND w.vertex IS NOT NULL THEN 1
        |         WHEN s.status = 0 AND d.vertex IS NOT NULL THEN 2
        |         ELSE s.status END AS status,
        |    CASE WHEN s.status = 0 AND (w.vertex IS NOT NULL OR d.vertex IS NOT NULL)
        |         THEN CAST($i AS BIGINT) ELSE s.rnd END AS rnd
        |  FROM st$p s LEFT JOIN w$i w ON w.vertex = s.vertex
        |  LEFT JOIN dm$i d ON d.vertex = s.vertex)""".stripMargin
    }
    sb ++= s"""
      |SELECT vertex, rnd AS "round" FROM st$rounds WHERE status = 1 ORDER BY vertex""".stripMargin
    sb.toString
  }

  /** Unrolled Jones–Plassmann coloring — per round: uncolored local
    * minima (the misSql winner shape), then each winner takes the mex of
    * its colored neighbors' colors via the same sorted-distinct fold the
    * engine runs (acc starts 1, advances past every taken color met in
    * ascending order). */
  private def coloringSql(graphCte: String, rounds: Int): String = {
    val pkey = "vertex % 2147483647 * 2654435761 % 2147483647 * 4294967296 + vertex"
    val mex = "list_reduce(list_prepend(CAST(1 AS BIGINT), " +
      "list_sort(list(DISTINCT s.color))), " +
      "(acc, x) -> CASE WHEN x = acc THEN acc + 1 ELSE acc END)"
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |und AS MATERIALIZED (SELECT DISTINCT * FROM (
      |  SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g)),
      |st0 AS MATERIALIZED (
      |  SELECT vertex, $pkey AS pkey, CAST(-1 AS BIGINT) AS color
      |  FROM (SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |a$i AS MATERIALIZED (SELECT vertex, pkey FROM st$p WHERE color < 0),
        |nm$i AS MATERIALIZED (
        |  SELECT u.dst AS vertex, min(a.pkey) AS nbr_min
        |  FROM und u JOIN a$i a ON a.vertex = u.src GROUP BY u.dst),
        |w$i AS MATERIALIZED (
        |  SELECT a.vertex FROM a$i a LEFT JOIN nm$i n ON n.vertex = a.vertex
        |  WHERE n.nbr_min IS NULL OR a.pkey < n.nbr_min),
        |nc$i AS MATERIALIZED (
        |  SELECT w.vertex, $mex AS mex
        |  FROM w$i w JOIN und u ON u.src = w.vertex
        |  JOIN st$p s ON s.vertex = u.dst AND s.color >= 0
        |  GROUP BY w.vertex),
        |st$i AS MATERIALIZED (
        |  SELECT s.vertex, s.pkey,
        |    CASE WHEN s.color < 0 AND w.vertex IS NOT NULL
        |         THEN coalesce(n.mex, CAST(1 AS BIGINT)) ELSE s.color END AS color
        |  FROM st$p s LEFT JOIN w$i w ON w.vertex = s.vertex
        |  LEFT JOIN nc$i n ON n.vertex = s.vertex)""".stripMargin
    }
    sb ++= s"\nSELECT vertex, color FROM st$rounds ORDER BY vertex"
    sb.toString
  }

  /** Unrolled deterministic Israeli-Itai matching — per round: the
    * round-salted coin split, sender->receiver min-pair-hash proposals,
    * receiver min-hash acceptance, lonely-vertex retirement, and the
    * status merge, mirroring Graphs.maximalMatching arithmetic-for-
    * arithmetic (same Mersenne-31 mix, same id packing in the low 32
    * bits). */
  private def matchingSql(graphCte: String, rounds: Int): String = {
    def hp(x: String) = s"($x) % 2147483647 * 2654435761 % 2147483647"
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |und AS MATERIALIZED (SELECT DISTINCT * FROM (
      |  SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g)),
      |st0 AS MATERIALIZED (
      |  SELECT vertex, 0 AS status, CAST(-1 AS BIGINT) AS mate, CAST(-1 AS BIGINT) AS rnd
      |  FROM (SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      val salt = (i.toLong * 1000000007L).toString
      def coin(x: String) = s"(${hp(s"$x + $salt")}) % 2"
      def pk(u: String, v: String) = hp(s"(${hp(s"$u + $salt")}) + $v")
      sb ++= s""",
        |a$i AS MATERIALIZED (SELECT vertex FROM st$p WHERE status = 0),
        |ae$i AS MATERIALIZED (
        |  SELECT u.src, u.dst FROM und u
        |  JOIN a$i x ON x.vertex = u.src JOIN a$i y ON y.vertex = u.dst),
        |pr$i AS MATERIALIZED (
        |  SELECT src, min((${pk("src", "dst")}) * 4294967296 + dst) % 4294967296 AS dst
        |  FROM ae$i WHERE (${coin("src")}) = 0 AND (${coin("dst")}) = 1 GROUP BY src),
        |ac$i AS MATERIALIZED (
        |  SELECT dst, min((${pk("dst", "src")}) * 4294967296 + src) % 4294967296 AS src
        |  FROM pr$i GROUP BY dst),
        |lo$i AS MATERIALIZED (
        |  SELECT x.vertex FROM a$i x
        |  LEFT JOIN (SELECT DISTINCT src AS vertex FROM ae$i) t ON t.vertex = x.vertex
        |  WHERE t.vertex IS NULL),
        |st$i AS MATERIALIZED (
        |  SELECT s.vertex,
        |    CASE WHEN s.status = 0 AND m.mate IS NOT NULL THEN 1
        |         WHEN s.status = 0 AND l.vertex IS NOT NULL THEN 2
        |         ELSE s.status END AS status,
        |    CASE WHEN s.status = 0 AND m.mate IS NOT NULL THEN m.mate ELSE s.mate END AS mate,
        |    CASE WHEN s.status = 0 AND (m.mate IS NOT NULL OR l.vertex IS NOT NULL)
        |         THEN CAST($i AS BIGINT) ELSE s.rnd END AS rnd
        |  FROM st$p s
        |  LEFT JOIN (SELECT src AS vertex, dst AS mate FROM ac$i
        |             UNION ALL SELECT dst AS vertex, src AS mate FROM ac$i) m
        |    ON m.vertex = s.vertex
        |  LEFT JOIN lo$i l ON l.vertex = s.vertex)""".stripMargin
    }
    sb ++= s"""
      |SELECT vertex AS a, mate AS b, rnd AS "round" FROM st$rounds
      |WHERE status = 1 AND vertex < mate ORDER BY a""".stripMargin
    sb.toString
  }

  /** matchingSql's round chain with the final select swapped: the cover
    * is every matched vertex (status 1), the q_graph_vcover replay. */
  private def vcoverSql(graphCte: String, rounds: Int): String = {
    val m = matchingSql(graphCte, rounds)
    m.substring(0, m.lastIndexOf("SELECT vertex AS a")) +
      s"SELECT vertex FROM st$rounds WHERE status = 1 ORDER BY vertex"
  }

  /** Unrolled SCC coloring replay — per phase: active slice, `rounds`
    * forward max-color CTEs, `rounds` backward same-color root-reach
    * CTEs, and the decide/peel merge, mirroring
    * Graphs.stronglyConnectedComponents round for round (integer max and
    * boolean-or messages are order-free, so both engines agree exactly;
    * post-convergence rounds are no-ops on both sides). */
  private def sccSql(graphCte: String, phases: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |st0 AS MATERIALIZED (
      |  SELECT vertex, CAST(-1 AS BIGINT) AS scc
      |  FROM (SELECT src AS vertex FROM g UNION SELECT dst FROM g))""".stripMargin
    for (p <- 1 to phases) {
      val q = p - 1
      sb ++= s""",
        |ap$p AS MATERIALIZED (SELECT vertex FROM st$q WHERE scc < 0),
        |ae$p AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM g e
        |  JOIN ap$p x ON x.vertex = e.src JOIN ap$p y ON y.vertex = e.dst),
        |c${p}_0 AS MATERIALIZED (SELECT vertex, vertex AS color FROM ap$p)""".stripMargin
      for (r <- 1 to rounds) {
        sb ++= s""",
          |c${p}_$r AS MATERIALIZED (
          |  SELECT vertex, max(color) AS color FROM (
          |    SELECT vertex, color FROM c${p}_${r - 1}
          |    UNION ALL
          |    SELECT e.dst AS vertex, c.color FROM ae$p e
          |    JOIN c${p}_${r - 1} c ON c.vertex = e.src)
          |  GROUP BY vertex)""".stripMargin
      }
      sb ++= s""",
        |f${p}_0 AS MATERIALIZED (
        |  SELECT vertex, color, CASE WHEN color = vertex THEN 1 ELSE 0 END AS flag
        |  FROM c${p}_$rounds)""".stripMargin
      for (r <- 1 to rounds) {
        sb ++= s""",
          |f${p}_$r AS MATERIALIZED (
          |  SELECT s.vertex, s.color,
          |    CASE WHEN s.flag = 1 OR m.mv IS NOT NULL THEN 1 ELSE 0 END AS flag
          |  FROM f${p}_${r - 1} s LEFT JOIN (
          |    SELECT DISTINCT e.src AS mv, w.color AS mc
          |    FROM ae$p e JOIN f${p}_${r - 1} w ON w.vertex = e.dst AND w.flag = 1) m
          |  ON m.mv = s.vertex AND m.mc = s.color)""".stripMargin
      }
      sb ++= s""",
        |st$p AS MATERIALIZED (
        |  SELECT s.vertex,
        |    CASE WHEN s.scc < 0 AND d.vertex IS NOT NULL THEN d.color ELSE s.scc END AS scc
        |  FROM st$q s LEFT JOIN
        |    (SELECT vertex, color FROM f${p}_$rounds WHERE flag = 1) d
        |  ON d.vertex = s.vertex)""".stripMargin
    }
    sb ++= s"""
      |SELECT vertex, scc FROM st$phases ORDER BY vertex""".stripMargin
    sb.toString
  }

  /** sccSql's phase chain + condensation edges + unrolled longest-path
    * layering — the q_graph_scc_levels replay (integer max messages over
    * an acyclic relation: order-free, exact in both engines). */
  private def sccLevelsSql(graphCte: String, phases: Int, rounds: Int,
      levelRounds: Int): String = {
    val base = sccSql(graphCte, phases, rounds)
    val sb = new StringBuilder
    sb ++= base.substring(0, base.lastIndexOf("SELECT vertex, scc")).trim.stripSuffix(",")
    sb ++= s""",
      |cond AS MATERIALIZED (
      |  SELECT DISTINCT s1.scc AS csrc, s2.scc AS cdst
      |  FROM g e JOIN st$phases s1 ON s1.vertex = e.src
      |  JOIN st$phases s2 ON s2.vertex = e.dst
      |  WHERE s1.scc <> s2.scc),
      |lv0 AS MATERIALIZED (
      |  SELECT DISTINCT scc AS comp, CAST(0 AS BIGINT) AS level FROM st$phases)""".stripMargin
    for (r <- 1 to levelRounds) {
      sb ++= s""",
        |lv$r AS MATERIALIZED (
        |  SELECT comp, max(level) AS level FROM (
        |    SELECT comp, level FROM lv${r - 1}
        |    UNION ALL
        |    SELECT c.cdst AS comp, l.level + 1 AS level
        |    FROM cond c JOIN lv${r - 1} l ON l.comp = c.csrc)
        |  GROUP BY comp)""".stripMargin
    }
    sb ++= s"""
      |SELECT s.vertex, s.scc, l.level FROM st$phases s
      |JOIN lv$levelRounds l ON l.comp = s.scc ORDER BY s.vertex""".stripMargin
    sb.toString
  }

  private def chainGraphCte(k: Int): String =
    s"""g AS MATERIALIZED (
       |  SELECT CAST(id AS BIGINT) AS src,
       |         CAST(CASE WHEN id % $k = 0 THEN 0 ELSE id + 1 END AS BIGINT) AS dst
       |  FROM range(1, ${k * k + 1}) t(id))""".stripMargin

  private val derivedGraphCte =
    s"""g AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % $Mod AS src, l_partkey % $Mod AS dst
       |  FROM lineitem WHERE l_orderkey % $Mod <> l_partkey % $Mod)""".stripMargin

  /** bounded-degree ring-offset graph — q_graph_coloring's fixture (the
    * coloringEdges derivation, CTE twin) */
  private val coloringGraphCte =
    s"""g AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % $ColoringMod AS src,
       |    (l_orderkey % $ColoringMod + 1 + l_partkey % 8) % $ColoringMod AS dst
       |  FROM lineitem
       |  WHERE l_orderkey % $ColoringMod <> (l_orderkey % $ColoringMod + 1 + l_partkey % 8) % $ColoringMod)""".stripMargin

  /** residue-sharded cut of the derived graph (edges within vertex%shards
    * classes only) — q_graph_modularity's multi-community fixture */
  private val shardedGraphCte =
    s"""g AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % $Mod AS src, l_partkey % $Mod AS dst
       |  FROM lineitem WHERE l_orderkey % $Mod <> l_partkey % $Mod
       |    AND (l_orderkey % $Mod) % $ModularityShards = (l_partkey % $Mod) % $ModularityShards)""".stripMargin

  /** Unrolled deterministic walks — one CTE per step; the window's ORDER
    * BY replays Graphs.walkHash (hash asc, dst tie-break), so rn = 1 is
    * exactly the engine's min(struct(hash, dst)) pick. Sinks drop out of
    * the join and the walk ends early, same as the engine. */
  private val walksCtes = {
    def step(i: Int) =
      s"""s$i AS MATERIALIZED (
         |  SELECT walk_id, CAST($i AS BIGINT) AS step, dst AS vertex FROM (
         |    SELECT s.walk_id, e.dst,
         |      row_number() OVER (PARTITION BY s.walk_id
         |        ORDER BY (s.walk_id % 2147483647 * 131 + $i + e.dst)
         |          % 2147483647 * 2654435761 % 2147483647, e.dst) AS rn
         |    FROM s${i - 1} s JOIN g e ON s.vertex = e.src)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $derivedGraphCte,
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT vertex FROM (
       |    SELECT src AS vertex FROM g UNION ALL SELECT dst FROM g)),
       |s0 AS MATERIALIZED (
       |  SELECT vertex AS walk_id, CAST(0 AS BIGINT) AS step, vertex
       |  FROM verts WHERE vertex % $WalkSeedMod = 0),
       |${(1 to WalkLen).map(step).mkString(",\n")},
       |walks AS MATERIALIZED (
       |  ${(0 to WalkLen).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})""".stripMargin
  }

  private val walksSql =
    s"""$walksCtes
       |SELECT walk_id, step, vertex FROM walks
       |ORDER BY walk_id, step""".stripMargin

  /** Unrolled biased walks — each step CTE carries (vertex, prev); the
    * window ORDER BY replays the engine's min(struct(-prio, dst)):
    * category weight from the prev-relation (return / common via a left
    * probe of g / explore), priority w·P/(h+1) as one DOUBLE division of
    * exact int64s, negated so ascending order = highest priority. */
  private val walksBiasedSql = {
    val hExpr = (i: Int) =>
      s"(s.walk_id % 2147483647 * 131 + $i + e.dst) % 2147483647 * 2654435761 % 2147483647"
    def step(i: Int) =
      s"""b$i AS MATERIALIZED (
         |  SELECT walk_id, CAST($i AS BIGINT) AS step, dst AS vertex, cur AS prev FROM (
         |    SELECT s.walk_id, s.vertex AS cur, e.dst,
         |      row_number() OVER (PARTITION BY s.walk_id ORDER BY
         |        -(CAST(CAST(CASE WHEN e.dst = s.prev THEN $WalkWr
         |                    WHEN pe.pd IS NOT NULL THEN $WalkWc
         |                    ELSE $WalkWe END AS BIGINT) * 2147483647 AS DOUBLE)
         |          / (${hExpr(i)} + 1)),
         |        e.dst) AS rn
         |    FROM b${i - 1} s JOIN g e ON s.vertex = e.src
         |    LEFT JOIN (SELECT src AS ps, dst AS pd FROM g) pe
         |      ON pe.ps = s.prev AND pe.pd = e.dst)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $derivedGraphCte,
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT vertex FROM (
       |    SELECT src AS vertex FROM g UNION ALL SELECT dst FROM g)),
       |b0 AS MATERIALIZED (
       |  SELECT vertex AS walk_id, CAST(0 AS BIGINT) AS step, vertex,
       |         CAST(-1 AS BIGINT) AS prev
       |  FROM verts WHERE vertex % $WalkSeedMod = 0),
       |${(1 to WalkLen).map(step).mkString(",\n")}
       |SELECT walk_id, step, vertex FROM (
       |  ${(0 to WalkLen).map(i => s"SELECT walk_id, step, vertex FROM b$i").mkString(" UNION ALL ")})
       |ORDER BY walk_id, step""".stripMargin
  }

  /** skip-gram pair replay: the walk CTEs + the windowed self-join and
    * per-ordered-pair count */
  private val walkPairsSql =
    s"""$walksCtes
       |SELECT a.vertex AS center, b.vertex AS context,
       |       CAST(count(*) AS BIGINT) AS pair_n
       |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       |  AND a.step <> b.step AND abs(a.step - b.step) <= $WalkWindow
       |GROUP BY a.vertex, b.vertex
       |ORDER BY center, context""".stripMargin

  /** negative-sampling replay: the walk CTEs + per-vertex frequency, the
    * slot cross join, the correctly-rounded weight tree
    * sqrt(f·sqrt(f)) and priority w·P/(h+1) — promotion order spelled to
    * match the engine column-for-column — and the top-NegK cut. */
  private val walkNegativesSql =
    s"""$walksCtes,
       |f AS MATERIALIZED (
       |  SELECT vertex, CAST(count(*) AS BIGINT) AS freq FROM walks GROUP BY vertex),
       |cand AS MATERIALIZED (
       |  SELECT vertex, CAST(j AS BIGINT) AS slot,
       |    sqrt(CAST(freq AS DOUBLE) * sqrt(CAST(freq AS DOUBLE)))
       |      * CAST(2147483647 AS DOUBLE)
       |      / CAST((vertex % 2147483647 * 131 + j) % 2147483647
       |             * 2654435761 % 2147483647 + 1 AS DOUBLE) AS prio
       |  FROM f CROSS JOIN range(0, $NegSlots) r(j)),
       |top AS MATERIALIZED (
       |  SELECT vertex, slot, prio FROM cand
       |  ORDER BY prio DESC, vertex, slot LIMIT $NegK)
       |SELECT vertex, slot, round(prio, 6) AS neg_q FROM top
       |ORDER BY vertex, slot""".stripMargin

  /** Unrolled HITS — one (auth, hub) CTE pair per iteration, mirroring
    * Hits.run: auth pulls hub over in-edges and L1-normalizes, hub pulls
    * the NORMALIZED auth over out-edges and L1-normalizes. */
  private val hitsSql = {
    val sb = new StringBuilder
    sb ++= s"""WITH $derivedGraphCte,
      |v AS MATERIALIZED (SELECT src AS vertex FROM g UNION SELECT dst FROM g),
      |s0 AS MATERIALIZED (SELECT vertex, CAST(1.0 AS DOUBLE) AS hub, CAST(1.0 AS DOUBLE) AS auth FROM v)""".stripMargin
    for (i <- 1 to HitsIters) {
      val p = i - 1
      sb ++= s""",
        |ar$i AS MATERIALIZED (
        |  SELECT v.vertex, coalesce(t.araw, 0) AS araw FROM v LEFT JOIN (
        |    SELECT e.dst AS vertex, sum(s.hub) AS araw
        |    FROM g e JOIN s$p s ON e.src = s.vertex GROUP BY e.dst) t USING (vertex)),
        |a$i AS MATERIALIZED (
        |  SELECT vertex, araw / (SELECT sum(araw) FROM ar$i) AS auth FROM ar$i),
        |hr$i AS MATERIALIZED (
        |  SELECT v.vertex, coalesce(t.hraw, 0) AS hraw FROM v LEFT JOIN (
        |    SELECT e.src AS vertex, sum(a.auth) AS hraw
        |    FROM g e JOIN a$i a ON e.dst = a.vertex GROUP BY e.src) t USING (vertex)),
        |s$i AS MATERIALIZED (
        |  SELECT h.vertex, h.hraw / (SELECT sum(hraw) FROM hr$i) AS hub, a.auth
        |  FROM hr$i h JOIN a$i a USING (vertex))""".stripMargin
    }
    sb ++= s"\nSELECT vertex, round(hub, 9) AS hub, round(auth, 9) AS auth FROM s$HitsIters ORDER BY vertex"
    sb.toString
  }

  /** Unrolled 1-D Lloyd's iterations; argmin with first-min tie-break as a
    * CASE chain, matching KMeans.assign's array_position semantics. */
  private def kmeansSql(init: Seq[Double], iters: Int): String = {
    val k = init.size
    def argmin(cent: String): String = {
      val ds = (0 until k).map(i =>
        s"abs(x - (SELECT c FROM $cent WHERE i = $i))")
      val cases = (0 until k - 1).map { i =>
        val conds = (i + 1 until k).map(j => s"${ds(i)} <= ${ds(j)}").mkString(" AND ")
        s"WHEN $conds THEN $i"
      }.mkString(" ")
      s"CASE $cases ELSE ${k - 1} END"
    }
    val initVals = init.zipWithIndex
      .map { case (c, i) => s"($i, ${c}::DOUBLE)" }.mkString(", ")
    val sb = new StringBuilder
    sb ++= s"""WITH pts AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS x FROM orders GROUP BY o_custkey),
      |cent0(i, c) AS (VALUES $initVals)""".stripMargin
    for (t <- 1 to iters) {
      val p = t - 1
      sb ++= s""",
        |a$t AS MATERIALIZED (SELECT x, ${argmin(s"cent$p")} AS cluster FROM pts),
        |s$t AS MATERIALIZED (SELECT cluster, sum(x) AS s, count(*) AS n FROM a$t GROUP BY cluster),
        |cent$t AS MATERIALIZED (SELECT c.i, coalesce(s.s / s.n, c.c) AS c
        |           FROM cent$p c LEFT JOIN s$t s ON s.cluster = c.i)""".stripMargin
    }
    sb ++= s""",
      |af AS MATERIALIZED (SELECT x, ${argmin(s"cent$iters")} AS cluster FROM pts)
      |SELECT CAST(c.i AS BIGINT) AS i, c.c AS centroid,
      |       coalesce(f.n, 0) AS n
      |FROM cent$iters c LEFT JOIN (SELECT cluster, count(*) AS n FROM af GROUP BY cluster) f
      |  ON f.cluster = c.i
      |ORDER BY i""".stripMargin
    sb.toString
  }

  /** Unrolled pointer-doubling CC — per round: HashMin CTE m{i}, then the
    * shortcut join r{i} = label(label(v)), mirroring
    * Graphs.connectedComponentsDoubling step for step. `graphCte` must
    * define `g(src, dst)`. Integer mins are exact, so engine and oracle
    * agree on ANY input at the same round count, converged or not. */
  private def ccDoublingSql(graphCte: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $graphCte,
      |und AS MATERIALIZED (
      |  SELECT src, dst FROM g UNION SELECT dst AS src, src AS dst FROM g),
      |r0 AS MATERIALIZED (
      |  SELECT vertex, vertex AS label FROM (
      |    SELECT src AS vertex FROM und UNION SELECT dst FROM und))""".stripMargin
    for (i <- 1 to iters) {
      val p = i - 1
      sb ++= s""",
        |m$i AS MATERIALIZED (SELECT vertex, min(label) AS label FROM (
        |  SELECT vertex, label FROM r$p
        |  UNION ALL SELECT u.dst AS vertex, l.label FROM r$p l JOIN und u ON u.src = l.vertex)
        |GROUP BY vertex),
        |r$i AS MATERIALIZED (SELECT a.vertex, least(a.label, b.label) AS label
        |  FROM m$i a JOIN m$i b ON a.label = b.vertex)""".stripMargin
    }
    sb ++= s"\nSELECT vertex, label FROM r$iters ORDER BY vertex"
    sb.toString
  }

  /** linear HashMin min-label unroll over edge relation `edgesRel`,
    * prefixed CTEs ending in `${p}l$iters` — mirrors
    * Graphs.connectedComponents round for round */
  private def ccLinearChain(p: String, edgesRel: String, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}und AS MATERIALIZED (
      |  SELECT src, dst FROM $edgesRel UNION SELECT dst AS src, src AS dst FROM $edgesRel),
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

  /** the incremental-CC contract, replayed literally: chain a labels the
    * existing split; the quotient chain runs over (label(src), label(dst))
    * of the incoming edges; the final select composes through the remap —
    * the same two-stage formulation Graphs.incrementalComponents executes,
    * so engine and oracle agree converged or not */
  private val ccIncSql = {
    val iters = Graphs.DefaultCcRounds
    s"""WITH gb AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % $BridgeMod AS src, l_partkey % $BridgeMod AS dst
       |  FROM lineitem WHERE l_orderkey % $BridgeMod <> l_partkey % $BridgeMod),
       |ge AS MATERIALIZED (SELECT src, dst FROM gb WHERE (src + dst) % 5 <> 0),
       |gi AS MATERIALIZED (SELECT src, dst FROM gb WHERE (src + dst) % 5 = 0),
       |${ccLinearChain("a_", "ge", iters)},
       |tv AS MATERIALIZED (SELECT src AS v FROM gi UNION SELECT dst FROM gi),
       |tl AS MATERIALIZED (
       |  SELECT tv.v, coalesce(a.label, tv.v) AS lb
       |  FROM tv LEFT JOIN a_l$iters a ON a.vertex = tv.v),
       |qg AS MATERIALIZED (
       |  SELECT x.lb AS src, y.lb AS dst
       |  FROM gi JOIN tl x ON x.v = gi.src JOIN tl y ON y.v = gi.dst
       |  WHERE x.lb <> y.lb),
       |${ccLinearChain("q_", "qg", iters)},
       |av AS MATERIALIZED (
       |  SELECT vertex, label FROM a_l$iters
       |  UNION ALL
       |  SELECT v AS vertex, v AS label FROM tl
       |  WHERE v NOT IN (SELECT vertex FROM a_l$iters))
       |SELECT av.vertex, coalesce(r.new_label, av.label) AS label
       |FROM av LEFT JOIN (
       |  SELECT vertex AS old_label, label AS new_label FROM q_l$iters
       |  WHERE vertex <> label) r
       |  ON r.old_label = av.label
       |ORDER BY av.vertex""".stripMargin
  }

  private def chainPathsCte(k: Int, chains: Int): String =
    s"""g AS MATERIALIZED (
       |  SELECT CAST(id AS BIGINT) AS src, CAST(id + 1 AS BIGINT) AS dst
       |  FROM range(1, ${k.toLong * chains + 1}) t(id) WHERE id % $k <> 0)""".stripMargin

  private val ssspPathTreeSql =
    s"""WITH RECURSIVE tedges AS (
       |  SELECT DISTINCT CAST((l_orderkey % 1000) // 2 AS BIGINT) AS src,
       |                  CAST(l_orderkey % 1000 AS BIGINT) AS dst
       |  FROM lineitem WHERE l_orderkey % 1000 >= 2),
       |walk(vertex, dist, path) AS (
       |  SELECT CAST(1 AS BIGINT) AS vertex, 0 AS dist, '1' AS path
       |  UNION ALL
       |  SELECT e.dst, w.dist + 1, w.path || ' ' || CAST(e.dst AS VARCHAR)
       |  FROM walk w JOIN tedges e ON e.src = w.vertex)
       |SELECT vertex, CAST(dist AS BIGINT) AS dist, path
       |FROM walk ORDER BY vertex""".stripMargin

  /** Path-SSSP oracle on the dense CYCLIC graph. A recursive CTE that
    * enumerates all walks explodes here — but the engine never holds more
    * than ONE path per vertex (the lexicographically-smallest shortest
    * path: min(struct(dist, path)) per BFS layer), and that per-vertex-min
    * recurrence unrolls in linear work. Round k adds exactly the vertices
    * first reached at depth k, each with min(pred_path || dst) over its
    * depth-(k-1) predecessors — lex-min of equal-length BIGINT lists, the
    * identical comparison Spark's array ordering performs. Vertices
    * already reached never improve (unit weights: all round-k offers have
    * dist k), matching the engine's strict dist-only improvement test.
    * Unroll bound = SsspMaxHops, the engine's iteration cap. */
  private def ssspPathSql = {
    val rounds = (1 to SsspMaxHops).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT vertex, dist, path FROM r${k - 1}
         |  UNION ALL
         |  SELECT e.dst AS vertex, $k AS dist, min(list_append(w.path, e.dst)) AS path
         |  FROM r${k - 1} w JOIN edges e ON e.src = w.vertex AND w.dist = ${k - 1}
         |  WHERE e.dst NOT IN (SELECT vertex FROM r${k - 1})
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |r0 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS vertex, 0 AS dist, [CAST(1 AS BIGINT)] AS path),
       |$rounds
       |SELECT vertex, CAST(dist AS BIGINT) AS dist, array_to_string(path, ' ') AS path
       |FROM r$SsspMaxHops ORDER BY vertex""".stripMargin
  }

  /** unrolled k-core peeling: each round computes degrees of the previous
    * edge set and keeps edges whose BOTH endpoints have degree >= k.
    * Deletion-only, so rounds past the fixpoint are no-ops — the fixed
    * unroll and the engine's early convergence reach the same subgraph. */
  /** unrolled iterated-h-index coreness: h0 = degree over the symmetric
    * closure; each round re-ranks every vertex's neighbor values and takes
    * max(least(val, rank)) — the h-index, tie-order-invariant, so the
    * window's DESC sort needs no tie-break. Idempotent at the fixpoint,
    * so the fixed unroll matches the engine's early convergence. */
  private def corenessSql(mod: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH kedges AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
      |  FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
      |e0 AS MATERIALIZED (
      |  SELECT src, dst FROM kedges UNION SELECT dst AS src, src AS dst FROM kedges),
      |h0 AS MATERIALIZED (
      |  SELECT src AS vertex, CAST(count(*) AS BIGINT) AS val FROM e0 GROUP BY src)""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |h$i AS MATERIALIZED (
        |  SELECT vertex, max(least(val, r)) AS val FROM (
        |    SELECT e.dst AS vertex, h.val,
        |      CAST(row_number() OVER (PARTITION BY e.dst ORDER BY h.val DESC) AS BIGINT) AS r
        |    FROM h$p h JOIN e0 e ON h.vertex = e.src)
        |  GROUP BY vertex)""".stripMargin
    }
    sb ++= s"""
      |SELECT vertex, val AS coreness FROM h$rounds ORDER BY vertex""".stripMargin
    sb.toString
  }

  /** unrolled greedy densest-subgraph peel: per round the degree
    * relation, one-row (twom, n) scalars, the exact-integer keep filter
    * (2·n·deg > 3·twom), and the peeled edge set; `best` picks the round
    * whose candidate no other round beats under exact cross-multiplied
    * density (ties to the earlier = larger candidate; empty rounds never
    * win), and the final select returns that round's degree relation. */
  private def densestSql(rounds: Int): String = {
    val hp = "% 2147483647 * 2654435761 % 2147483647"
    val sb = new StringBuilder
    sb ++= s"""WITH base AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT l_orderkey % $DsgMod AS src, l_partkey % $DsgMod AS dst FROM lineitem
      |    UNION ALL
      |    SELECT $DsgMod + (l_orderkey $hp) % $DsgCore,
      |           $DsgMod + (l_partkey $hp) % $DsgCore
      |    FROM lineitem WHERE l_orderkey % $DsgSlice = 0)
      |  WHERE src <> dst),
      |e0 AS MATERIALIZED (
      |  SELECT src, dst FROM base UNION SELECT dst, src FROM base)""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |d$i AS MATERIALIZED (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e$p GROUP BY src),
        |c$i AS MATERIALIZED (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e$p) AS twom,
        |         (SELECT CAST(count(*) AS BIGINT) FROM d$i) AS n),
        |k$i AS MATERIALIZED (
        |  SELECT d.src AS v FROM d$i d, c$i c WHERE 2 * c.n * d.deg > 3 * c.twom),
        |e$i AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e$p e
        |  JOIN k$i a ON a.v = e.src JOIN k$i b ON b.v = e.dst)""".stripMargin
    }
    sb ++= s""",
      |stats AS MATERIALIZED (
      |  ${(1 to rounds).map(i => s"SELECT $i AS r, twom, n FROM c$i").mkString(" UNION ALL ")}),
      |best AS MATERIALIZED (
      |  SELECT r FROM stats s1 WHERE NOT EXISTS (
      |    SELECT 1 FROM stats s2 WHERE s2.twom * s1.n > s1.twom * s2.n
      |      OR (s2.twom * s1.n = s1.twom * s2.n AND s2.r < s1.r))),
      |alld AS (
      |  ${(1 to rounds).map(i => s"SELECT $i AS r, src, deg FROM d$i").mkString(" UNION ALL ")})
      |SELECT alld.src AS vertex, alld.deg FROM alld JOIN best USING (r)
      |ORDER BY vertex""".stripMargin
    sb.toString
  }

  private def kcoreSql(mod: Int, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH kedges AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
      |  FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod),
      |e0 AS MATERIALIZED (
      |  SELECT src, dst FROM kedges UNION SELECT dst AS src, src AS dst FROM kedges)""".stripMargin
    for (i <- 1 to rounds) {
      val p = i - 1
      sb ++= s""",
        |d$i AS MATERIALIZED (SELECT src, count(*) AS deg FROM e$p GROUP BY src),
        |e$i AS MATERIALIZED (
        |  SELECT e.src, e.dst FROM e$p e
        |  JOIN d$i a ON a.src = e.src AND a.deg >= $k
        |  JOIN d$i b ON b.src = e.dst AND b.deg >= $k)""".stripMargin
    }
    sb ++= s"""
      |SELECT src AS vertex, count(*) AS degree FROM e$rounds
      |GROUP BY src ORDER BY vertex""".stripMargin
    sb.toString
  }

  /** unrolled k-truss peeling: each round computes per-edge triangle
    * support on the previous (symmetric) edge set and keeps edges with
    * support >= k-2; the final select recomputes support on the surviving
    * set — exactly the engine's post-loop recompute, so engine and oracle
    * agree on ANY input, converged or not. */
  private def ktrussSql(mod: Int, maxId: Int, k: Int, rounds: Int): String = {
    def supSql(i: Int, src: String) =
      s"""s$i AS MATERIALIZED (
         |  SELECT e.src, e.dst, count(*) AS sup
         |  FROM $src e JOIN $src a ON a.src = e.src
         |  JOIN $src b ON b.src = e.dst AND b.dst = a.dst
         |  GROUP BY e.src, e.dst)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH tr AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
      |  FROM lineitem
      |  WHERE l_orderkey % $mod <> l_partkey % $mod
      |    AND l_orderkey % $mod <= $maxId AND l_partkey % $mod <= $maxId),
      |e0 AS MATERIALIZED (
      |  SELECT src, dst FROM tr UNION SELECT dst AS src, src AS dst FROM tr)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= ",\n" + supSql(i, s"e${i - 1}")
      sb ++= s""",
        |e$i AS MATERIALIZED (SELECT src, dst FROM s$i WHERE sup >= ${k - 2})""".stripMargin
    }
    sb ++= ",\n" + supSql(rounds + 1, s"e$rounds")
    sb ++= s"""
      |SELECT src, dst, sup FROM s${rounds + 1} WHERE src < dst
      |ORDER BY src, dst""".stripMargin
    sb.toString
  }

  private val bridgesSql =
    s"""WITH br AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % $BridgeMod AS src, l_partkey % $BridgeMod AS dst
       |  FROM lineitem WHERE l_orderkey % $BridgeMod <> l_partkey % $BridgeMod),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM br UNION SELECT dst AS src, src AS dst FROM br),
       |sup AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM e0 e JOIN e0 a ON a.src = e.src
       |  JOIN e0 b ON b.src = e.dst AND b.dst = a.dst
       |  GROUP BY e.src, e.dst)
       |SELECT e.src, e.dst FROM e0 e
       |WHERE e.src < e.dst
       |  AND NOT EXISTS (SELECT 1 FROM sup s WHERE s.src = e.src AND s.dst = e.dst)
       |ORDER BY e.src, e.dst""".stripMargin

  private val assortativitySql =
    s"""WITH $edgesSql,
       |dx AS MATERIALIZED (SELECT src, count(*) AS dx FROM edges GROUP BY src),
       |dy AS MATERIALIZED (SELECT dst, count(*) AS dy FROM edges GROUP BY dst),
       |j AS MATERIALIZED (
       |  SELECT dx.dx, dy.dy FROM edges e
       |  JOIN dx ON e.src = dx.src JOIN dy ON e.dst = dy.dst),
       |m AS MATERIALIZED (
       |  SELECT count(*) AS n_edges,
       |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
       |    CAST(sum(dx * dx) AS BIGINT) AS sxx, CAST(sum(dy * dy) AS BIGINT) AS syy,
       |    CAST(sum(dx * dy) AS BIGINT) AS sxy
       |  FROM j)
       |SELECT n_edges, sx, sy, sxx, syy, sxy,
       |  CAST(n_edges * sxy - sx * sy AS DOUBLE) /
       |    (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)) *
       |     sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))) AS assortativity
       |FROM m ORDER BY n_edges""".stripMargin

  private val mutualSql =
    s"""WITH $edgesSql
       |SELECT a.src AS vertex, count(*) AS n_mutual
       |FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
       |GROUP BY 1 ORDER BY vertex""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_graph_ktruss" -> ktrussSql(KTrussMod, KTrussMaxId, KTrussK, KTrussRounds),
    "q_graph_ktruss_sparse" ->
      ktrussSql(KTrussSparseMod, KTrussSparseMod, KTrussSparseK, KTrussRounds),
    "q_graph_bridges" -> bridgesSql,
    "q_graph_degree_dist" ->
      s"""WITH $edgesSql,
         |degs AS MATERIALIZED (
         |  SELECT dst, count(*) AS deg FROM edges GROUP BY dst)
         |SELECT deg, count(*) AS n_vertices FROM degs
         |GROUP BY deg ORDER BY deg""".stripMargin,
    "q_graph_assortativity" -> assortativitySql,
    "q_graph_mutual" -> mutualSql,
    "q_graph_kcore" -> kcoreSql(KCoreMod, KCoreK, KCoreRounds),
    "q_graph_coreness" -> corenessSql(KCoreMod, Graphs.DefaultCorenessRounds),
    // the bucketed twin shares the oracle VERBATIM — one SQL, two plans
    "q_graph_coreness_window" -> corenessSql(KCoreMod, Graphs.DefaultCorenessRounds),
    "q_graph_densest" -> densestSql(Graphs.DefaultDensestRounds),
    "q_graph_sssp_path" -> ssspPathSql,
    "q_graph_sssp_path_tree" -> ssspPathTreeSql,
    "q_graph_degree" -> degreeSql,
    "q_graph_triangles" -> trianglesSql(200),
    "q_graph_clustering" -> clusteringSql(150),
    "q_graph_commonneighbors" -> commonNeighborsSql,
    "q_graph_linkpred_jaccard" -> linkpredJaccardSql,
    "q_graph_triangles_bc" -> trianglesSql(150),
    "q_graph_sssp" -> ssspSql,
    "q_graph_landmarks" -> landmarksSql,
    "q_graph_sssp_weighted" -> ssspWeightedSql,
    // incremental ≡ batch exactly (unique Bellman-Ford fixpoint), so the
    // batch SQL is the oracle — the strongest possible equality proof
    "q_graph_sssp_weighted_inc" -> ssspWeightedSql,
    "q_graph_sssp_weighted_inc_idx" -> ssspWeightedSql,
    "q_graph_pagerank" -> pagerankSql(chainGraphCte(PrK), (PrK * PrK).toString, PrIters),
    "q_graph_hits" -> hitsSql,
    "q_graph_pagerank_general" -> pagerankSql(derivedGraphCte, "SELECT n FROM nr", PrIters),
    "q_graph_pagerank_damped" -> pagerankDampedSql(derivedGraphCte, PrIters),
    // warm-start ≡ unbroken run (continuation law): same unrolled SQL
    "q_graph_pagerank_warm" -> pagerankGrownSql(derivedGraphCte, 4, PrIters - 4, oldCut = "TRUE"),
    "q_graph_pagerank_grown" -> pagerankGrownSql(derivedGraphCte, 4, PrIters - 4),
    "q_graph_ppr" -> pprSql(derivedGraphCte, PprSeeds, PrIters),
    "q_graph_lpa" -> lpaSql(derivedGraphCte, LpaRounds),
    "q_graph_walks" -> walksSql,
    "q_graph_walks_biased" -> walksBiasedSql,
    "q_graph_walk_pairs" -> walkPairsSql,
    "q_graph_walk_negatives" -> walkNegativesSql,
    "q_graph_modularity" -> modularitySql(shardedGraphCte, LpaRounds),
    "q_graph_closeness" -> closenessSql,
    "q_graph_diameter" -> diameterSql,
    "q_graph_mis" -> misSql(derivedGraphCte, Graphs.DefaultMisRounds),
    "q_graph_coloring" -> coloringSql(coloringGraphCte, Graphs.DefaultColoringRounds),
    "q_graph_matching" -> matchingSql(derivedGraphCte, Graphs.DefaultMatchingRounds),
    "q_graph_scc" -> sccSql(derivedGraphCte, Graphs.DefaultSccPhases, Graphs.DefaultSccRounds),
    "q_graph_vcover" -> vcoverSql(derivedGraphCte, Graphs.DefaultMatchingRounds),
    "q_graph_scc_levels" -> sccLevelsSql(derivedGraphCte, Graphs.DefaultSccPhases,
      Graphs.DefaultSccRounds, Graphs.DefaultSccLevelRounds),
    "q_graph_kmeans" -> kmeansSql(KmInit, KmIters),
    "q_graph_cc_chain" -> ccDoublingSql(chainPathsCte(CcChainLen, CcChains), CcRounds),
    "q_graph_cc" -> ccDoublingSql(derivedGraphCte, CcRounds),
    "q_graph_cc_inc" -> ccIncSql,
    "q_graph_cc_inc_idx" -> ccIncSql,
  )
}

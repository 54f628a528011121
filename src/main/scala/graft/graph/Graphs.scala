package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Graph construction. The reference treats every graph relationally — a
  * table of (src, dst) pairs (SURVEY §1.1) — and so do we.
  */
object Graphs {

  /** Deterministic directed graph derived from the lineitem table:
    * src = l_orderkey % modulus, dst = l_partkey % modulus, distinct,
    * no self-loops. Vertex-id space is bounded by `modulus` regardless of
    * scale factor, so graph-algorithm cost is stable while the derivation
    * scan still exercises the full table.
    */
  def lineitemEdges(spark: SparkSession, sfDir: String, modulus: Int = 300): DataFrame = {
    val li = graft.core.Tables.lineitem(spark, sfDir)
    li.select(
        (col("l_orderkey") % modulus).cast("long").as("src"),
        (col("l_partkey") % modulus).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The reference PageRank's synthetic graph: k linear chains of k
    * vertices (1→2→…→k), each chain's last vertex pointing at dangling
    * dummy vertex 0 — PageRankRDD/src/main/scala/wc/FollowerCount.scala:33-46.
    * Built distributed with spark.range (not a driver Map) so it scales to
    * arbitrary k.
    */
  def kChain(spark: SparkSession, k: Int): DataFrame = {
    // vertex ids 1..k*k; vertex v links to v+1 unless it is a chain tail
    // (v % k == 0), in which case it links to dummy 0.
    spark.range(1, k.toLong * k + 1)
      .select(
        col("id").as("src"),
        when(col("id") % k === 0, lit(0L)).otherwise(col("id") + 1).as("dst"))
  }

  /** `chains` disjoint linear paths of `k` vertices each (no shared dummy
    * vertex, unlike kChain): vertex v links to v+1 unless it is a chain
    * tail (v % k == 0). Diameter k-1 per component — the adversarial
    * fixture for label-propagation algorithms. */
  def chainPaths(spark: SparkSession, k: Int, chains: Int): DataFrame =
    spark.range(1, k.toLong * chains + 1)
      .filter(col("id") % k =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))

  /** All vertex ids appearing on either side of the edge relation. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("vertex"))
      .union(edges.select(col("dst").as("vertex")))
      .distinct()

  /** default propagation rounds — bounds cluster diameter; oracle SQL
    * unrolls exactly this many, so engine and oracle agree even on inputs
    * that have not converged */
  val DefaultCcRounds = 15

  /** The undirected edge set of a driver loop, its row count and its vertex
    * count: the [[symmetricClosure]] of the pinned input edges, as a
    * columnar cache hash-partitioned by src, so every per-round scan reads
    * as many partitions as the data needs. Both counts come from the one
    * aggregate that fills the cache: the rows (both directions: 2m) and the
    * distinct srcs, which are the closure's vertices and, the cache being
    * partitioned on src, count with no exchange of their own. Loops over
    * the closure are sized from one of them with no count of their own.
    * The filled cache cuts lineage, so the build's scope releases the pin.
    *
    * Columnar, not a LogicalRDD leaf: the loops scan this relation every
    * round, where the in-memory columnar cache's vectorized scan beats
    * row-block iteration. Init-only consumers (kTruss) take the leaf. */
  private[graft] def undirectedSized(edges: DataFrame): (DataFrame, Long, Long) = Fixpoint.scope {
    val (e, n) = Fixpoint.columnarRows(edges.select(col("src"), col("dst")))
    val und = Fixpoint.persisted(symmetricClosure(e, n))
    val sizes = und.agg(count(lit(1)), count_distinct(col("src"))).collect().head
    (und, sizes.getLong(0), sizes.getLong(1))
  }

  /** e ∪ reverse(e) over `n` pinned input edges, hash-partitioned by src at
    * the width 2n rows warrant, then deduped. The distinct's clustering on
    * (src, dst) is satisfied by HashPartitioning(src), so the closure costs
    * one exchange. */
  private def symmetricClosure(e: DataFrame, n: Long): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(Fixpoint.sizedPartitions(e.sparkSession, 2 * n), col("src"))
      .distinct()

  /** The vertices of an [[undirectedSized]] closure: every vertex of a
    * symmetric closure is a src, and the cache is hash-partitioned on src,
    * so the distinct plans no exchange. */
  private[graft] def closureVertices(und: DataFrame): DataFrame =
    und.select(col("src").as("vertex")).distinct()

  /** Connected components by min-label propagation (HashMin): every vertex
    * converges to the smallest id in its component. Edges are treated as
    * undirected. Integer mins are order-independent, so results are exact
    * and engine-reproducible. Converges in O(component diameter) rounds —
    * the right algorithm when components are small (duplicate clusters);
    * use pointer-doubling variants for giant-diameter graphs.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = DefaultCcRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected).withColumn("label", col("vertex"))
    val result = Fixpoint.iterate(init, n, maxIter,
      converged = Fixpoint.monotoneSumUnchanged("label")) { (state, _) =>
      val nbr = state.join(undirected, state("vertex") === undirected("src"))
        .select(col("dst").as("vertex"), col("label"))
      state.select(col("vertex"), col("label"))
        .unionByName(nbr)
        .groupBy("vertex").agg(min("label").as("label"))
    }
    result.select("vertex", "label")
  }

  /** Incremental connected components: fold a batch of NEW edges into an
    * existing (vertex, label) labeling without touching the old edge set —
    * the graph twin of the stored-index dedup ingest. The old labeling is
    * a contraction of the old graph (one representative per component), so
    * merging is CC over the QUOTIENT graph: each new edge (u, v) becomes
    * an edge between label(u) and label(v) (new vertices label themselves),
    * min-label CC runs over those quotient edges only — state is the
    * handful of labels the batch touches, not the corpus — and the result
    * relabels the full labeling through one remap join. The remap relation
    * holds only labels that actually changed (merged components), so at
    * 100 TB it broadcasts and the stored labeling never reshuffles.
    *
    * Exactly equals `connectedComponents(oldEdges ∪ newEdges)` whenever
    * `labels` is a CONVERGED labeling (every label a component minimum):
    * the quotient min over merged groups is the merged component's true
    * minimum, and composing through the remap reaches every member. On an
    * unconverged labeling the result still matches the oracle, which
    * replays this exact two-stage formulation (GraphQueries ccIncSql).
    * Output: (vertex, label) over old ∪ new vertices. */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
      maxIter: Int = DefaultCcRounds): DataFrame = {
    val l = labels.select(col("vertex"), col("label"))
    // touched vertices with their effective label (self for new vertices);
    // checkpointed: both quotient-edge sides and the new-vertex union read it
    val touched = Fixpoint.materializedLeaf(vertices(newEdges)
      .join(l, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("label"), col("vertex")).as("lb")))
    val qEdges = newEdges
      .join(touched.toDF("src", "ls"), "src")
      .join(touched.toDF("dst", "ld"), "dst")
      .select(col("ls").as("src"), col("ld").as("dst"))
      .filter(col("src") =!= col("dst"))
    // min-label CC over the quotient graph — tiny state, same machinery
    val q = connectedComponents(qEdges, maxIter)
    // only merged labels need rewriting; everything else passes through
    val remap = q.filter(col("vertex") =!= col("label"))
      .select(col("vertex").as("old_label"), col("label").as("new_label"))
    val allV = l.unionByName(
      touched.join(l, Seq("vertex"), "left_anti")
        .select(col("vertex"), col("lb").as("label")))
    // `touched` stays checkpointed: the output plan reads it lazily, and a
    // localCheckpoint cannot recompute after unpersist (truncated lineage)
    allV.join(broadcast(remap), allV("label") === remap("old_label"), "left")
      .select(col("vertex"), coalesce(col("new_label"), col("label")).as("label"))
  }

  /** default rounds for the doubling variant: reach grows as
    * d_t >= 2*d_{t-1} + 2, so 8 rounds cover component diameters past 500 */
  val DefaultDoublingRounds = 8

  /** default peeling rounds for kCore — the oracle unrolls exactly this
    * many, and extra rounds past the fixpoint are no-ops (deletion-only),
    * so engine early-convergence and the oracle's fixed unroll agree */
  val DefaultKCoreRounds = 10

  /** k-core: the maximal subgraph in which every vertex has undirected
    * degree >= k, by iterative peeling — drop all vertices of degree < k,
    * recompute degrees, repeat to fixpoint. The graph-curation operator
    * (e.g. keeping only densely-interacting entities in a 100 TB
    * interaction graph). State = surviving undirected edge set; each round
    * is one degree aggregation + two semi-joins, all state-sized.
    * Returns (vertex, degree) of the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = DefaultKCoreRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val result = Fixpoint.iterate(undirected, n, maxIter,
      converged = Fixpoint.countUnchanged()) { (state, _) =>
      // undirected state holds both directions, so per-src row count IS
      // the undirected degree
      val keep = state.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("v"))
      state
        .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    result.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("degree"))
  }

  /** default coreness h-index rounds — the iteration is monotone
    * non-increasing and idempotent at its fixpoint, so the oracle's fixed
    * unroll agrees with the engine's early convergence; vertices a round
    * budget leaves unconverged carry the same round-t value on BOTH
    * engines (the LPA/k-core bound contract). 24 covers the measured
    * worst case on the KCoreMod graphs (17/16/8 rounds at
    * sf0.001/0.01/0.1, DuckDB-probed against brute-force peeling) with
    * headroom; the engine's convergence test stops at the fixpoint. */
  val DefaultCorenessRounds = 24

  /** Full core decomposition — per-vertex core number via the iterated
    * h-index (Lü et al., Nature Communications 2016): start from the
    * degree, repeatedly replace every vertex's value with the h-index of
    * its neighbors' values (the largest h such that ≥ h neighbors hold
    * value ≥ h); the sequence is monotone non-increasing and converges
    * exactly to the coreness. Where [[kCore]] answers "is v in the k-core"
    * for ONE k by subgraph peeling, this labels every vertex with its
    * maximal k in one pass over rounds — the whole onion, the standard
    * graph-curation density score.
    *
    * This is the HUB-SAFE bucketed formulation, the engine's default: its
    * per-round cost does not grow with a hub's degree. The h-index needs
    * only "how many neighbors hold value ≥ h", never a global per-vertex
    * sort: (1) histogram the messages per (vertex, value) — map-side
    * partial aggregation absorbs a hub's raw degree before the shuffle, so
    * the exchange carries value buckets, not neighbors; (2) a running
    * sum over the histogram DESC by value gives
    * cum(v) = #neighbors with value ≥ v, and h = max over
    * histogram levels of min(value, cum) — identical to max-over-ranks
    * min(x_r, r), which is maximized at the end of each equal-value run
    * where r = cum (tie-order-invariant, so the bucketing loses nothing;
    * spec- and oracle-certified ≡ [[corenessWindow]]).
    *
    * Scale: the one-task window sort that [[corenessWindow]] pays per hub
    * per round (degree-sized — the indivisible-partition hazard at
    * web-scale degree ~10⁸) is here a histogram-sized sort, bounded by
    * the number of DISTINCT neighbor values: in round 1 these are vertex
    * degrees, of which any graph has ≤ 2√m distinct (k distinct degrees
    * sum to ≥ k²/2 ≤ 2m), and values only fall afterwards — so
    * per-vertex work is O(√m) worst-case instead of O(max-degree), and
    * the shuffle is the partial-aggregated histogram. State is
    * vertex-sized; values only fall, and the convergence test stops
    * early. */
  def coreness(edges: DataFrame, rounds: Int = DefaultCorenessRounds): DataFrame = Fixpoint.scope {
    import org.apache.spark.sql.expressions.Window
    val (und, _, n) = undirectedSized(edges)
    // symmetric closure => per-src row count IS the undirected degree. The
    // loop is sized from the vertex count: the state holds one row per
    // vertex, and map-side partial aggregation shrinks each round's 2m
    // messages to histogram buckets before the shuffle
    val init = und.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("val"))
    val result = Fixpoint.iterate(init, n, rounds,
        converged = Fixpoint.monotoneSumUnchanged("val")) { (state, _) =>
      val hist = state.join(und, state("vertex") === und("src"))
        .groupBy(col("dst").as("vertex"), col("val"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("vertex").orderBy(desc("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum("cnt").over(w))
        .groupBy("vertex")
        .agg(max(least(col("val"), col("cum"))).as("val"))
    }
    result.select(col("vertex"), col("val").as("coreness"))
  }

  /** Didactic rank-window twin of [[coreness]] — the literal textbook
    * h-index: rank each vertex's neighbor values DESC and take
    * max(min(x_r, r)). A hub of degree d sorts d rows on one task per
    * round (the per-key-window shape; the events chunking trick does not
    * apply because rank is global per vertex), which is why the bucketed
    * form is the default — this twin exists to certify it (GraphSpec
    * equality fixture; same oracle SQL verbatim — one SQL, two plans,
    * the chunked-sessionize proof shape). */
  def corenessWindow(edges: DataFrame, rounds: Int = DefaultCorenessRounds): DataFrame = Fixpoint.scope {
    import org.apache.spark.sql.expressions.Window
    // sized from the 2m message rows each round sorts, not the vertex-sized
    // state (q_graph_coreness_window, sf0.1, 4 cores: 4.1 s at width 2,
    // 5.6 s at width 1)
    val (und, n, _) = undirectedSized(edges)
    val init = und.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("val"))
    val result = Fixpoint.iterate(init, n, rounds,
        converged = Fixpoint.monotoneSumUnchanged("val")) { (state, _) =>
      val msgs = state.join(und, state("vertex") === und("src"))
        .select(col("dst").as("vertex"), col("val"))
      val w = Window.partitionBy("vertex").orderBy(desc("val"))
      msgs.withColumn("r", row_number().over(w).cast("long"))
        .groupBy("vertex")
        .agg(max(least(col("val"), col("r"))).as("val"))
    }
    result.select(col("vertex"), col("val").as("coreness"))
  }

  /** default densest-subgraph peel rounds: each round removes every
    * vertex with degree ≤ (3/2)·avg, so the survivor count falls
    * geometrically — log₁.₅(n) ≈ 17 at n = 1000; 24 gives headroom and
    * empty-state rounds are no-ops the oracle replays as
    * never-winning (0, 0) candidates */
  val DefaultDensestRounds = 24

  /** Densest subgraph, greedy peel (Charikar APPROX 2000; the
    * MapReduce-round formulation is Bahmani, Kumar & Vassilvitskii,
    * VLDB 2012): repeatedly strip every vertex whose degree is at most
    * 2(1+ε) times the current average degree (ε = 1/2 here, so the
    * comparison `2·n·deg > 3·twoM` is EXACT int64 — no density float
    * ever materializes), record each intermediate vertex set as a
    * candidate, and return the candidate with the highest |E|/|V| —
    * a 2(1+ε)-approximation of the true maximum-density subgraph in
    * O(log₁₊ε n) rounds. The dense-community extractor: spam/botnet
    * cores, topic nuclei, the "what is this graph's hottest blob"
    * answer that coreness ranks but does not delimit. Cross-round
    * density comparison is exact cross-multiplication (mᵢ·nⱼ vs mⱼ·nᵢ),
    * ties to the EARLIER (larger) candidate; vertices that lose their
    * last edge leave immediately (a zero-degree vertex only dilutes
    * density). Assumes m·n < 2^62 (the priorityKey id-space class).
    *
    * Scale: each round is one vertex-sized degree aggregation + ONE
    * fused scalar job (sum(deg) = 2m and count(*) = n off the same
    * checkpointed degree relation, one barrier where two scalar jobs
    * would be two); candidate vertex sets are the per-round degree
    * relations (vertex-sized checkpoints, kept so the winner needs no
    * second peel pass).
    * Returns (vertex, deg) of the winning candidate, deg = degree
    * WITHIN it. The m·n < 2^62 id-space bound is ENFORCED, not assumed:
    * the driver argmax multiplies with Math.multiplyExact and the keep
    * filter's 2·n·deg / 3·2m headroom is require-checked each round
    * (raw Long products would wrap silently where the DuckDB oracle
    * errors). */
  def densestSubgraph(edges: DataFrame,
      rounds: Int = DefaultDensestRounds): DataFrame = Fixpoint.scope {
    val (first, n, _) = undirectedSized(edges)
    // the peel re-plans deg/stats/semi-join relations every round, so it
    // runs under the shared loop session for the edge count's width: state-
    // sized shuffles, no AQE stage replanning. The one-time Row re-bind
    // streams from the edge cache.
    val loop = Fixpoint.loopSession(edges.sparkSession, n)
    // the candidates (deg, 2m, n), one per round; taken by the read, so they
    // belong to this scope, which keeps the winner and releases the rest
    val peel = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Long, Long)]
    Fixpoint.unfold(Fixpoint.rebindStats(first, loop), rounds) { (state, _) =>
      // the round's one barrier: the stats head() materializes the lazy deg
      // and, through its lineage, the state's lazy checkpoint (the eager
      // form ran three jobs: deg checkpoint, stats, state checkpoint). The
      // sum of degrees over the symmetric closure IS the (directed-row) edge
      // count 2m, so (2m, n) come off one aggregate of the vertex-sized deg
      val deg = Fixpoint.lazyLeaf(state.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).as("deg")))
      val srow = deg.agg(coalesce(sum("deg"), lit(0L)).as("twom"),
        count(lit(1)).as("n")).head()
      val (twoM, n) = (srow.getLong(0), srow.getLong(1))
      // keep-filter headroom: 2·n·deg ≤ 2·n·(n−1) and 3·2m must both fit
      // in int64 — fail fast instead of wrapping where the oracle errors
      require(twoM <= Long.MaxValue / 3 &&
        (n == 0 || n <= Long.MaxValue / 2 / n),
        s"densestSubgraph int64 headroom exceeded: 2m=$twoM n=$n")
      peel += ((deg, twoM, n))
      peel.last
    } { case (state, (deg, twoM, n), _) =>
      Option.when(twoM != 0L) {
        val keep = deg.filter(lit(2L) * lit(n) * col("deg") > lit(3L) * lit(twoM))
          .select(col("vertex"))
        state
          .join(keep.withColumnRenamed("vertex", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("vertex", "dst"), Seq("dst"), "left_semi")
      }
    }
    // argmax density m/n by exact cross-multiplication, earliest round
    // wins ties (the larger candidate); empty candidates never win
    var best = 0
    for (j <- 1 until peel.length) {
      val (_, mB, nB) = peel(best); val (_, mJ, nJ) = peel(j)
      if (Math.multiplyExact(mJ, nB) > Math.multiplyExact(mB, nJ)) best = j
    }
    // the winner is materialized (its round's stats job)
    peel(best)._1.orderBy("vertex")
  }

  /** default k-truss peeling rounds — deletion-only, so rounds past the
    * fixpoint are no-ops and the oracle's fixed unroll agrees with the
    * engine's early convergence */
  val DefaultKTrussRounds = 6

  /** k-truss: the maximal subgraph in which every edge participates in at
    * least k-2 triangles — the edge-centric sibling of k-core, and a much
    * stronger cohesion screen (degree can be faked by hubs; triangle
    * support cannot). Peeling: compute per-edge support via the wedge
    * join (w adjacent to BOTH endpoints), drop edges below k-2, repeat.
    *
    * Scale shape: each round is one self-join pair on the state (fan-out
    * Σ deg(w)² like every triangle enumeration — hub vertices get capped
    * upstream by the degree/k-core screens) + one state-sized aggregate;
    * state only shrinks. Support is recomputed once more on the surviving
    * subgraph for the output, so reported counts are internally consistent
    * even on an input the round bound has not converged (the oracle
    * unrolls the same rounds and recomputes the same final support).
    * Returns one row per undirected edge (src < dst, support). */
  /** One orientation per undirected edge, by the (degree, id) total order
    * — every edge points from its lower-degree endpoint to its higher-
    * degree one (ids break ties, so the order is total and deterministic).
    * This is the classic triangle-enumeration orientation: a wedge's
    * center must have both an in- and an out-edge, and out-neighbors all
    * rank higher, so a vertex of degree d > √(2m) has < √(2m) out-edges —
    * total wedge fan-out is O(m^1.5) REGARDLESS of skew, where id-
    * ordering costs ~deg²/4 per hub whose neighbor ids straddle its own
    * (a power-law graph's dominant term). Input must be the symmetric
    * closure; output (src, dst) keeps ORIGINAL ids, π-oriented. */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    // symmetric closure => per-src row count IS the undirected degree
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    und
      .join(deg.toDF("src", "ds"), "src")
      .join(deg.toDF("dst", "dd"), "dst")
      .filter(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")))
      .select("src", "dst")
  }

  /** π-oriented wedge count (Σ_v in(v)·out(v) over the oriented edges) —
    * the exact join fan-out of [[orderedEdgeSupport]]'s enumeration, and
    * the quantity [[kTruss]]'s density guard budgets. */
  private[graft] def wedgeCount(g: DataFrame): Long =
    g.select(col("dst").as("v")).groupBy("v").agg(count(lit(1)).as("ind"))
      .join(g.select(col("src").as("v")).groupBy("v").agg(count(lit(1)).as("outd")), "v")
      .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).as("w"))
      .first().getLong(0)

  /** Triangle support per undirected edge from an ALREADY-ORIENTED edge
    * relation ([[orientByDegree]]): triangle-once enumeration — the
    * orientation makes every π-ordered wedge (a→b, b→c) unique per
    * triangle candidate and the closing edge (a→c) is π-oriented by
    * transitivity, so no comparisons appear in the joins at all. Credits
    * map back to the id-ordered (src < dst) output convention, so the
    * result is orientation-INVARIANT: identical support counts (and
    * DuckDB oracles) whatever order enumerated them. */
  private[graft] def orientedEdgeSupport(g: DataFrame): DataFrame = {
    val tri = g.toDF("a", "b")
      .join(g.toDF("b2", "c"), col("b") === col("b2"))
      .join(g.toDF("a3", "c3"),
        col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    val credits = tri.select(explode(array(
        struct(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst")),
        struct(least(col("b"), col("c")).as("src"), greatest(col("b"), col("c")).as("dst")),
        struct(least(col("a"), col("c")).as("src"), greatest(col("a"), col("c")).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    credits.groupBy("src", "dst").agg(count(lit(1)).as("sup"))
  }

  /** Triangle support per ORDERED undirected edge (src < dst), by
    * degree-ordered triangle-once enumeration with 3-way edge crediting —
    * intermediate rows are the π-oriented wedges (O(m^1.5) by the
    * [[orientByDegree]] bound) plus 3·|triangles|, versus the naive
    * both-orientations wedge join's Σ deg² with every wedge surviving to
    * the aggregate. Input must be the symmetric closure; edges in no
    * triangle are ABSENT from the output. Shared by [[kTruss]] (peeling)
    * and the local-bridge screen. */
  private[graft] def orderedEdgeSupport(und: DataFrame): DataFrame =
    orientedEdgeSupport(orientByDegree(und))

  /** Ordered-wedge budget above which [[kTruss]] refuses to peel by
    * default. The wedge count (Σ_v in(v)·out(v) over the ordered half) is
    * the per-round join fan-out — the quantity that actually prices the
    * peel. ~1e8 wedges is tens of seconds PER ROUND on 32 cores; past it
    * the graph is in the dense regime where k-core is the right cohesion
    * screen (BASELINE.md), so the default fails fast with that guidance
    * instead of silently burning a cluster. Callers who know their cost
    * (benchmarks, small fixtures) pass an explicit budget. */
  val DefaultKTrussWedgeBudget = 100000000L

  def kTruss(edges: DataFrame, k: Int, maxIter: Int = DefaultKTrussRounds,
      maxWedges: Long = DefaultKTrussWedgeBudget): DataFrame = Fixpoint.scope {
    require(k >= 3, "k-truss needs k >= 3")
    // INIT-ONLY consumer: the peel loop's per-round plans reference only
    // the loop state, so the symmetric closure is built as in
    // undirectedSized but kept as a src-partitioned LogicalRDD leaf, not a
    // columnar cache — the orientation/support/wedge-guard plans reference
    // it 3x, and the leaf spares them the union+distinct subtree
    // re-optimization.
    val undirected = Fixpoint.pinned(edges.select(col("src"), col("dst")))(symmetricClosure)
    // degree-ordered orientation, computed once (checkpointed: the guard's
    // wedge count and the init support pass both read it)
    val g = Fixpoint.materializedLeaf(orientByDegree(undirected))
    // density guard: measure the init join's exact fan-out before paying
    // for it — one degree aggregate + one k-row-ish join, negligible next
    // to a single support pass
    val wedges = wedgeCount(g)
    if (wedges > maxWedges)
      throw new IllegalArgumentException(
        s"kTruss: input has $wedges oriented wedges (> budget $maxWedges); " +
          "this graph is in the dense regime where triangle peeling is " +
          "quadratic-ish per round — use kCore for a cohesion screen, " +
          "pre-filter hubs, or pass an explicit maxWedges to proceed anyway")
    // Delta peeling. State = (src, dst, sup) over the ordered half, with
    // sup exact for the CURRENT edge set. Init pays one full triangle-once
    // support pass; after that no round recomputes support — it enumerates
    // only the distinct triangles that contain an edge deleted this round
    // (three joins, each with the deletion set on one side, so the fan-out
    // is the deletion neighborhood rather than the whole graph) and debits
    // each triangle's surviving edges by one. A triangle losing two edges
    // in the same round is still one lost triangle — hence the distinct on
    // (a,b,c) — so sup stays exact and deletions match the full-recompute
    // formulation round for round; the unrolled oracle is unchanged. Edges
    // in no triangle never enter the state (the same deletion round 1's
    // sup >= k-2 filter implies, since k-2 >= 1), and the maintained sup
    // of the final state IS its triangle support, so the output needs no
    // final recompute either.
    // no bound on the support relation's size is at hand: the seed is
    // cached, and the count that fills it sizes the loop
    val (init, rows) = Fixpoint.columnarRows(orientedEdgeSupport(g))
    val result = Fixpoint.iterate(init, rows, maxIter,
      converged = Fixpoint.countUnchanged()) { (state, _) =>
      val dead = state.filter(col("sup") < k - 2).select("src", "dst")
      val alive = state.filter(col("sup") >= k - 2)
      val all = state.select("src", "dst")
      // triangles (a < b < c) of the current edge set containing at least
      // one dead edge, one join pair per role the dead edge can play
      val tAB = dead.toDF("a", "b")
        .join(all.toDF("b2", "c"), col("b") === col("b2"))
        .join(all.toDF("a3", "c3"), col("a") === col("a3") && col("c") === col("c3"))
        .select("a", "b", "c")
      val tBC = dead.toDF("b", "c")
        .join(all.toDF("a", "b2"), col("b2") === col("b"))
        .join(all.toDF("a3", "c3"), col("a") === col("a3") && col("c") === col("c3"))
        .select("a", "b", "c")
      val tAC = dead.toDF("a", "c")
        .join(all.toDF("a2", "b"), col("a2") === col("a"))
        .join(all.toDF("b3", "c3"), col("b") === col("b3") && col("c") === col("c3"))
        .select("a", "b", "c")
      val lost = tAB.unionByName(tBC).unionByName(tAC).distinct()
      val debits = lost.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("c").as("dst")),
          struct(col("a").as("src"), col("c").as("dst")))).as("e"))
        .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
        .agg(count(lit(1)).as("lostc"))
      alive.join(debits, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"),
          (col("sup") - coalesce(col("lostc"), lit(0L))).as("sup"))
    }
    // survivors whose support went to zero but were not yet peeled when the
    // round bound hit: the full-recompute formulation's output support pass
    // drops them (no triangle -> absent from the support relation)
    result.filter(col("sup") >= 1).select("src", "dst", "sup")
  }

  /** Local bridges: undirected edges whose endpoints share NO neighbor
    * (zero triangle support) — Granovetter's tie-span screen: deleting
    * one pushes its endpoints' distance past 2, so these are the
    * weak-tie/cut candidates in an interaction graph. One triangle-once
    * support pass + one anti-join, both equi-keyed — no all-pairs.
    * Returns the ordered edge list (src < dst). */
  def localBridges(edges: DataFrame): DataFrame = {
    // ordered half (x2) + anti-join all read it
    val und = Fixpoint.materializedLeaf(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    und.filter(col("src") < col("dst"))
      .join(orderedEdgeSupport(und).select("src", "dst"), Seq("src", "dst"), "left_anti")
  }

  /** default MIS/matching rounds — bounds the symmetry-breaking peel depth;
    * the oracle unrolls exactly this many, and post-convergence rounds are
    * no-ops in both engines (no active vertices -> no updates) */
  val DefaultMisRounds = 15
  val DefaultMatchingRounds = 15

  /** Deterministic per-vertex priority for symmetry breaking, packed with
    * the vertex id into ONE comparable int64: the high 31 bits are a
    * multiplicative hash of the id (Knuth constant, Mersenne-31 modulus),
    * the low 32 bits the id itself — so priority order is pseudo-random
    * but total (hash ties fall back to id order), one `<` compares the
    * pair, and the identical integer arithmetic runs in any engine
    * (assumes vertex ids < 2^32; the id tail would truncate beyond). */
  private[graft] def priorityKey(
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    v % 2147483647L * 2654435761L % 2147483647L * 4294967296L + v

  /** Maximal independent set, deterministic Luby style: each round every
    * ACTIVE vertex whose priority key is a strict local minimum among its
    * active neighbors joins the set; its neighbors become dominated; both
    * leave the active frontier. Two adjacent vertices can never both win
    * a round (priority order is total), so the result is independent;
    * an active vertex with no active neighbors wins unconditionally, so
    * every vertex is eventually decided — maximality. The classic
    * symmetry-breaking primitive behind distributed coloring/scheduling,
    * here as the peel that picks one representative per neighborhood.
    *
    * Scale: state is vertex-sized (vertex, pkey, status, round); each
    * round is two joins + one aggregation over the sized undirected edge
    * cache, and the active frontier only shrinks. Rounds are O(log n)
    * with high probability under the hash priorities; the fixed bound
    * plus the monotone-status convergence test stops early once decided.
    * Returns (vertex, round) for set members, round = the 1-based round
    * that admitted the vertex. */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = DefaultMisRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected)
      .withColumn("pkey", priorityKey(col("vertex")))
      .withColumn("status", lit(0)) // 0 active, 1 in set, 2 dominated
      .withColumn("round", lit(-1L))
    val result = Fixpoint.iterate(init, n, rounds,
      converged = Fixpoint.monotoneSumUnchanged("status")) { (state, i) =>
      val active = state.filter(col("status") === 0).select("vertex", "pkey")
      val nbrMin = active.join(undirected, active("vertex") === undirected("src"))
        .groupBy(col("dst").as("nv")).agg(min("pkey").as("nbr_min"))
      // leaf + stats re-bind: consumed on both sides (domination
      // scan + status merge) — the connectedComponentsDoubling barrier
      // pattern plus the estimate reset that keeps rounds planning-stable
      val winners = Fixpoint.rebindStats(Fixpoint.materializedLeaf(
        active.join(nbrMin, active("vertex") === nbrMin("nv"), "left")
          .filter(col("nbr_min").isNull || col("pkey") < col("nbr_min"))
          .select(col("vertex"), lit(1).as("newstat"))))
      val dominated = winners.join(undirected, winners("vertex") === undirected("src"))
        .select(col("dst").as("vertex")).distinct()
        .withColumn("newstat", lit(2))
      // a vertex is never winner AND dominated (winners are non-adjacent);
      // a vertex dominated by several winners dedups via the distinct
      val updates = winners.unionByName(dominated)
      state.join(updates, Seq("vertex"), "left")
        .select(col("vertex"), col("pkey"),
          when(col("status") === 0 && col("newstat").isNotNull, col("newstat"))
            .otherwise(col("status")).as("status"),
          when(col("status") === 0 && col("newstat").isNotNull, lit((i + 1).toLong))
            .otherwise(col("round")).as("round"))
    }
    result.filter(col("status") === 1).select("vertex", "round")
  }

  /** default Jones–Plassmann rounds: O(log n) whp on bounded-degree
    * graphs under hash priorities; the oracle unrolls exactly this many,
    * and vertices the budget leaves undecided keep color = -1 on BOTH
    * engines (the SCC residue convention — use a sparse graph or raise
    * the budget; on dense graphs JP serializes by design, since a
    * near-complete graph needs ~n colors decided ~sequentially) */
  val DefaultColoringRounds = 20

  /** Greedy graph coloring, deterministic Jones–Plassmann: each round
    * every UNcolored vertex whose priority key is a strict local minimum
    * among its uncolored neighbors picks the smallest color unused by
    * its already-colored neighbors (the mex of the neighbor color set).
    * Winners of one round are pairwise non-adjacent (priority order is
    * total), and a winner's uncolored neighbors see its color in later
    * rounds, so no edge is ever monochrome — a valid (Δ+1)-bounded
    * coloring, the conflict-free-scheduling primitive (parallel updates,
    * channel assignment, register allocation writ large).
    *
    * Scale: state is vertex-sized (vertex, pkey, color); each round is
    * two joins + two aggregations over the sized undirected edge cache,
    * and the uncolored frontier only shrinks. The mex is a per-winner
    * fold over its SORTED distinct neighbor colors (bounded by degree) —
    * deterministic in both engines. Returns (vertex, color), color = -1
    * for vertices undecided within the round budget. */
  def greedyColoring(edges: DataFrame, rounds: Int = DefaultColoringRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected)
      .withColumn("pkey", priorityKey(col("vertex")))
      .withColumn("color", lit(-1L))
    val result = Fixpoint.iterate(init, n, rounds,
      converged = Fixpoint.monotoneSumUnchanged("color")) { (state0, _) =>
      // BARRIER-FUSED round (as in maximalMatching): the winner test
      // (min pkey over UNCOLORED neighbors) and the mex input
      // (distinct colors over COLORED neighbors) are both per-vertex
      // aggregates over the same edge relation, so ONE uncolored-source ⨝
      // edges ⨝ state pass computes both — the winners relation is then
      // consumed exactly once (the state merge) and needs no mid-round
      // checkpoint. 3 jobs/round → 2 (state checkpoint + convergence
      // aggregate); the zero-job stats re-bind of the already-checkpointed
      // state below keeps the estimate reset.
      val state = Fixpoint.rebindStats(state0)
      val nbrAttrs = state.select(col("vertex").as("nbr"),
        col("pkey").as("npkey"), col("color").as("ncolor"))
      val perVertex = state.filter(col("color") < 0).select(col("vertex"), col("pkey"))
        .join(undirected, col("vertex") === undirected("src"))
        .select(col("vertex"), col("pkey"), col("dst").as("nbr"))
        .join(nbrAttrs, "nbr")
        .groupBy("vertex", "pkey")
        .agg(min(when(col("ncolor") < 0, col("npkey"))).as("nbr_min"),
          // mex input: sorted distinct colored-neighbor colors (collect_set
          // skips the NULLs the `when` leaves on uncolored neighbors)
          sort_array(collect_set(when(col("ncolor") >= 0, col("ncolor")))).as("cs"))
      // winners = local pkey minima among uncolored neighbors (no uncolored
      // neighbor → wins unconditionally); mex = fold the sorted colors with
      // acc starting at 1 — acc advances past every taken color it meets in
      // order; an empty/NULL color set means color 1
      val assign = perVertex
        .filter(col("nbr_min").isNull || col("pkey") < col("nbr_min"))
        .select(col("vertex").as("wv"),
          coalesce(expr("aggregate(cs, CAST(1 AS BIGINT), (acc, x) -> " +
            "CASE WHEN x = acc THEN acc + 1 ELSE acc END)"), lit(1L)).as("newcolor"))
      state.join(assign, state("vertex") === col("wv"), "left")
        .select(state("vertex"), state("pkey"),
          when(col("color") < 0 && col("wv").isNotNull, col("newcolor"))
            .otherwise(col("color")).as("color"))
    }
    result.select("vertex", "color")
  }

  /** Maximal matching, deterministic Israeli–Itai style: each round a
    * round-salted hash splits active vertices into SENDERS and
    * RECEIVERS; every sender with a receiver neighbor proposes to the
    * one minimizing a round-salted pair hash, every receiver accepts
    * its minimum-hash proposer, accepted pairs marry and leave the
    * frontier, and actives with no active neighbor left are decided
    * unmatched. Proposal targets are pseudo-random and re-drawn every
    * round, so dense neighborhoods marry many pairs per round — a
    * MUTUAL-MINIMUM handshake degenerates to ONE marriage per round on
    * a dense graph (every vertex's argmin is the same global minimum),
    * and raw min-id proposals serialize the same way around low-id
    * hubs. Expected O(log n) rounds; the round bound plus the
    * maximality spec over the real graph pin convergence. The
    * distributed pairing primitive behind graph coarsening and
    * two-phase aggregation trees.
    *
    * Same state/round discipline as [[maximalIndependentSet]]. Returns
    * matched pairs (a, b, round) with a < b, round 1-based. */
  def maximalMatching(edges: DataFrame, rounds: Int = DefaultMatchingRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected)
      .withColumn("status", lit(0)) // 0 active, 1 matched, 2 unmatched
      .withColumn("mate", lit(-1L))
      .withColumn("round", lit(-1L))
    // convergence = empty frontier, NOT "no change": an unlucky coin
    // round legitimately changes nothing while actives remain, and the
    // monotone-sum test would mistake that idle round for completion.
    // noneMatch (full scan) rather than limit(1): the full scan fuses
    // with the round's lazy-checkpoint materialization into one job
    val result = Fixpoint.iterate(init, n, rounds,
      converged = Fixpoint.noneMatch(col("status") === 0)) { (state, i) =>
      import org.apache.spark.sql.Column
      // round-salted hashes: same Mersenne-31 multiplicative mix as
      // priorityKey, salted by the round so every round re-draws roles
      // and targets (static priorities serialize dense neighborhoods)
      val salt = lit((i + 1).toLong * 1000000007L)
      def hp(c: Column): Column = c % 2147483647L * 2654435761L % 2147483647L
      def coin(c: Column): Column = hp(c + salt) % 2L
      def pairKey(u: Column, v: Column): Column = hp(hp(u + salt) + v)

      val active = state.filter(col("status") === 0).select("vertex")
      // the active-edge relation is rooted at the loop-bound active set,
      // not the edge cache: a Dataset executes under its root's session,
      // so it plans under the loop session (its width, its AQE setting)
      // and not the caller's.
      val ae = active.select(col("vertex").as("src"))
        .join(undirected, "src")
        .join(active.select(col("vertex").as("dst")), "dst")
        .select("src", "dst")
      // sender -> receiver proposals: min pair hash picks the target;
      // the key's low 32 bits carry the id (the priorityKey packing)
      val prop = ae
        .filter(coin(col("src")) === 0L && coin(col("dst")) === 1L)
        .groupBy("src")
        .agg((min(pairKey(col("src"), col("dst")) * 4294967296L + col("dst"))
          % 4294967296L).as("dst"))
      // each receiver accepts its min-hash proposer: every sender appears
      // in at most one proposal and no sender is a receiver this round,
      // so accepted pairs are vertex-disjoint by construction. Both
      // orientations of a pair come from ONE explode pass over the
      // acceptance agg — a self-union here would either re-run the
      // proposal aggregation per branch or cost a second materialization
      // barrier per round (the barrier count, not the data, dominates the
      // round price; fusing acc into updates cut 3 barriers/round to 2)
      val acc = prop.groupBy("dst")
        .agg((min(pairKey(col("dst"), col("src")) * 4294967296L + col("src"))
          % 4294967296L).as("src"))
      val matched = acc.select(explode(array(
          struct(col("src").as("vertex"), col("dst").as("newmate")),
          struct(col("dst").as("vertex"), col("src").as("newmate")))).as("e"))
        .select(col("e.vertex").as("vertex"), col("e.newmate").as("newmate"))
        .withColumn("newstat", lit(1))
      val lonely = active
        .join(ae.select(col("src").as("vertex")).distinct(), Seq("vertex"), "left_anti")
        .select(col("vertex"), lit(-1L).as("newmate"), lit(2).as("newstat"))
      // lonely still references the state-derived active-edge relation, so
      // the merged update set gets the stats cut before it meets the state
      val updates = Fixpoint.rebindStats(
        Fixpoint.materializedLeaf(matched.unionByName(lonely)))
      state.join(updates, Seq("vertex"), "left")
        .select(col("vertex"),
          when(col("status") === 0 && col("newstat").isNotNull, col("newstat"))
            .otherwise(col("status")).as("status"),
          when(col("status") === 0 && col("newstat").isNotNull, col("newmate"))
            .otherwise(col("mate")).as("mate"),
          when(col("status") === 0 && col("newstat").isNotNull, lit((i + 1).toLong))
            .otherwise(col("round")).as("round"))
    }
    result.filter(col("status") === 1 && col("vertex") < col("mate"))
      .select(col("vertex").as("a"), col("mate").as("b"), col("round"))
  }

  /** default SCC phases / per-phase propagation rounds — rounds bounds the
    * ACTIVE subgraph's diameter (the DefaultCcRounds contract), phases
    * bounds the peel depth (each phase decides every current color root's
    * whole SCC); the oracle unrolls exactly these, and post-convergence
    * rounds/phases are no-ops in both engines */
  val DefaultSccPhases = 3
  val DefaultSccRounds = 8

  /** Strongly connected components of a DIRECTED graph, coloring
    * algorithm (Orzan): each phase (1) propagates colors FORWARD along
    * edges for `rounds` rounds — color(v) = max undecided id that
    * reaches v; (2) propagates a root flag BACKWARD within each color
    * class — flag(v) = v reaches its color's root c through vertices of
    * the same color; (3) decides scc = color for flagged vertices and
    * peels them. Soundness of the per-phase cut: every member x of the
    * SCC of a root c has color EXACTLY c (x is reachable from c so
    * color(x) >= c; if some d > c reached x, then d would reach c
    * through x's path back to c, contradicting color(c) = c), so the
    * backward sweep confined to the color class finds the whole SCC and
    * nothing else. Mutual reachability is certified bidirectionally, so
    * decided labels are true SCCs; `rounds` must cover the active
    * subgraph's diameter and `phases` the peel depth for ALL vertices to
    * decide (GraphSpec pins full decision + equality with a driver-side
    * Tarjan on the derived graph). The one classic component analysis CC
    * cannot express — directionality matters (citation flow, link farms,
    * dependency cycles).
    *
    * Scale: state is vertex-sized; each phase runs two bounded fixpoints
    * over the phase's active edge slice (localCheckpoint'd once per
    * phase), and the active set only shrinks — the giant SCC of a dense
    * graph falls in phase 1 and later phases run on the residue.
    * Returns (vertex, scc); scc = -1 marks a vertex left undecided by an
    * insufficient phase/round budget. */
  def stronglyConnectedComponents(edges: DataFrame,
      phases: Int = DefaultSccPhases, rounds: Int = DefaultSccRounds): DataFrame = Fixpoint.scope {
    // leaf: both per-phase fixpoints re-scan e every round, and the eager
    // checkpoint is its one materialization job
    val e = Fixpoint.materializedLeaf(
      edges.select(col("src"), col("dst")).distinct())
    val seed = Fixpoint.materializedLeaf(vertices(e).withColumn("scc", lit(-1L)))
    // one cached-scan count: it upper-bounds every phase's active set, so
    // it sizes every loop below. Later phases' shrunken actives may
    // overshoot the width — capped, and a phase that peels most of the
    // graph leaves tiny rounds where width barely matters.
    val nV = seed.count()
    // one phase per round, under the shared loop session for nV, which the
    // inner fixpoints also resolve to; the phase's slice and both fixpoint
    // results go once the merged state has materialized
    Fixpoint.rebindStats(Fixpoint.iterate(seed, nV, phases) { (st, _) =>
      val state = Fixpoint.rebindStats(st)
      val active = state.filter(col("scc") < 0).select("vertex")
      // the phase's active edge slice, materialized once: both fixpoints
      // scan it every round; rooted at `active` so it executes under the
      // loop session (a Dataset executes under its ROOT's session)
      val ae = Fixpoint.materializedLeaf(active.select(col("vertex").as("src"))
        .join(e, "src")
        .join(active.select(col("vertex").as("dst")), "dst")
        .select("src", "dst"))
      // forward color propagation: max undecided id reaching each vertex.
      // The seeds are narrow maps over checkpointed state (the iterate
      // caller contract), width from the entry count
      val colors = Fixpoint.iterate(
        active.withColumn("color", col("vertex")), nV, rounds,
        converged = Fixpoint.monotoneSumUnchanged("color")) { (st, _) =>
        val msgs = st.join(ae, st("vertex") === ae("src"))
          .select(col("dst").as("vertex"), col("color"))
        st.select("vertex", "color").unionByName(msgs)
          .groupBy("vertex").agg(max("color").as("color"))
      }
      // backward root-reachability within the color class
      val flags = Fixpoint.iterate(
        colors.withColumn("flag", (col("color") === col("vertex")).cast("int")),
        nV, rounds,
        converged = Fixpoint.monotoneSumUnchanged("flag")) { (st, _) =>
        val msgs = st.filter(col("flag") === 1)
          .join(ae, st("vertex") === ae("dst"))
          .select(col("src"), col("color")).distinct()
          .toDF("mv", "mc")
        st.join(msgs, st("vertex") === col("mv") && st("color") === col("mc"), "left")
          .select(st("vertex"), st("color"),
            greatest(st("flag"), when(col("mv").isNotNull, 1).otherwise(0)).as("flag"))
      }
      val decided = flags.filter(col("flag") === 1)
        .select(col("vertex").as("dv"), col("color").as("dscc"))
      state.join(decided, state("vertex") === col("dv"), "left")
        .select(state("vertex"),
          when(col("scc") < 0 && col("dv").isNotNull, col("dscc"))
            .otherwise(col("scc")).as("scc"))
    })
  }

  /** [[stronglyConnectedComponents]] with a residue guard: the base
    * algorithm silently returns scc = -1 for vertices the phase/round
    * budget left undecided — oracle-consistent by contract (both engines
    * replay the same bound) but WRONG for a production caller who treats
    * the labels as true components. This variant counts the residue (one
    * scan of the final vertex-sized checkpoint, the k-truss density-guard
    * pattern) and fails fast with sizing guidance instead of letting -1
    * rows flow downstream. Descending-id singleton chains are the worst
    * case — each phase peels ONE vertex (everyone colors to the chain max,
    * only its SCC decides), so phases must reach the peel depth. */
  def stronglyConnectedComponentsStrict(edges: DataFrame,
      phases: Int = DefaultSccPhases, rounds: Int = DefaultSccRounds): DataFrame = {
    val s = stronglyConnectedComponents(edges, phases, rounds)
    val undecided = s.filter(col("scc") < 0).count()
    if (undecided > 0)
      throw new IllegalArgumentException(
        s"stronglyConnectedComponents: $undecided vertices undecided after " +
          s"$phases phases x $rounds rounds (scc = -1); raise `phases` past " +
          "the peel depth (worst case: one phase per SCC along a " +
          "descending-id chain) and `rounds` past the active subgraph's " +
          "diameter, and keep the DuckDB oracle unroll on the same bounds")
    s
  }

  /** default condensation-layering rounds — bounds the SCC DAG's depth;
    * the oracle unrolls exactly this many */
  val DefaultSccLevelRounds = 10

  /** Topological layering of the SCC condensation: contract each strongly
    * connected component to one node, then level(C) = length of the
    * longest path from any source component — the dependency-scheduling
    * number (level-k components can only start after level-(k-1) ones;
    * cycles collapse into their SCC so the layering is well-defined on
    * any directed graph). Levels grow by bounded max-propagation over the
    * condensation edges, which is acyclic by construction, so
    * `levelRounds` >= DAG depth reaches the fixpoint. Returns
    * (vertex, scc, level) — every vertex tagged with its component and
    * the component's scheduling layer. */
  def sccCondensationLevels(edges: DataFrame,
      phases: Int = DefaultSccPhases, rounds: Int = DefaultSccRounds,
      levelRounds: Int = DefaultSccLevelRounds,
      strict: Boolean = false): DataFrame = Fixpoint.scope {
    // strict: an undecided scc = -1 residue would lump every undecided
    // vertex into ONE pseudo-component and corrupt the layering — the
    // guard costs one count over the checkpointed vertex relation. Either
    // way `scc` is the SCC loop's final state, already materialized.
    val scc =
      if (strict) stronglyConnectedComponentsStrict(edges, phases, rounds)
      else stronglyConnectedComponents(edges, phases, rounds)
    val bySrc = scc.select(col("vertex").as("src"), col("scc").as("csrc"))
    val byDst = scc.select(col("vertex").as("dst"), col("scc").as("cdst"))
    val ce = Fixpoint.materializedLeaf(edges.select("src", "dst").distinct()
      .join(bySrc, "src").join(byDst, "dst")
      .select("csrc", "cdst").filter(col("csrc") =!= col("cdst")).distinct())
    // the component count is not known up front: the seed is cached, and
    // the count that fills it sizes the loop
    val (init, comps) = Fixpoint.columnarRows(scc.select(col("scc").as("comp")).distinct()
      .withColumn("level", lit(0L)))
    val levels = Fixpoint.iterate(init, comps, levelRounds,
      converged = Fixpoint.monotoneSumUnchanged("level")) { (st, _) =>
      val msgs = st.join(ce, st("comp") === ce("csrc"))
        .select(col("cdst").as("comp"), (col("level") + 1L).as("level"))
      st.select("comp", "level").unionByName(msgs)
        .groupBy("comp").agg(max("level").as("level"))
    }
    // one leaf, so the scope releases both loop results behind it
    Fixpoint.materializedLeaf(scc.join(levels, scc("scc") === levels("comp"))
      .select(col("vertex"), col("scc"), col("level")))
  }

  /** 2-approximate minimum vertex cover: the endpoints of a maximal
    * matching. Maximality means every edge has a matched endpoint, so
    * the set covers all edges; any cover needs at least one vertex per
    * matched pair, so the size is within 2x of optimal — the classic
    * guarantee, computed distributed for free from [[maximalMatching]].
    * Returns (vertex), one row per cover member. */
  def vertexCover(edges: DataFrame, rounds: Int = DefaultMatchingRounds): DataFrame = {
    val m = maximalMatching(edges, rounds)
    m.select(col("a").as("vertex"))
      .unionByName(m.select(col("b").as("vertex")))
  }

  /** default synchronous LPA rounds — the oracle unrolls exactly this many,
    * so engine and oracle agree even where sync LPA has not stabilized */
  val DefaultLpaRounds = 5

  /** Community detection by synchronous label propagation (LPA): each round
    * every vertex adopts the most frequent label among its undirected
    * neighbors plus itself (the self-vote damps the classic 2-coloring
    * oscillation of pure sync LPA), ties broken by smallest label —
    * a fully deterministic variant, unlike the randomized-order original.
    * Unlike connectedComponents (pure min reachability), label FREQUENCY
    * drives assignment, so dense cores absorb their periphery — the "find
    * topic clusters in an interaction graph" curation operator.
    *
    * Scale: each round is one state-sized join + two aggregations, all on
    * the sized undirected edge cache; rounds are fixed (no convergence
    * scan), so the cost is exactly `rounds` checkpoint jobs.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = DefaultLpaRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected).withColumn("label", col("vertex"))
    val result = Fixpoint.iterate(init, n, rounds) { (state, _) =>
      val msgs = state.join(undirected, state("vertex") === undirected("src"))
        .select(col("dst").as("vertex"), col("label"))
        .unionByName(state.select("vertex", "label"))
      msgs.groupBy("vertex", "label").agg(count(lit(1)).as("c"))
        .groupBy("vertex")
        // argmax by (count desc, label asc) as a struct-min — the same
        // deterministic pick the oracle's row_number() window makes
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("vertex"), col("m.l").as("label"))
    }
    result.select("vertex", "label")
  }

  /** Per-step hash that drives the walk's "random" hop choice: exact
    * int64 arithmetic replayable verbatim in SQL. Depends on all of
    * (walk, step, candidate) so different walks — and different steps of
    * the same walk — rank a shared vertex's out-neighbors independently;
    * the candidate enters BEFORE the modular multiplication (the
    * [[priorityKey]] construction), which permutes residues non-
    * monotonically — a hash of the form A·C + dst would just re-derive
    * "always take the smallest neighbor". Bounds: walk % P × 131 + step
    * + dst < 2^39, % P < 2^31, × 2654435761 < 2^62.4 — no int64
    * overflow for vertex ids < 2^32 (the priorityKey id-space
    * assumption). */
  private def walkHash(walk: org.apache.spark.sql.Column, step: Int,
      dst: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (walk % 2147483647L * 131L + step + dst) % 2147483647L *
      2654435761L % 2147483647L

  /** Deterministic random walks — the DeepWalk / node2vec sampling
    * primitive (Perozzi et al. KDD 2014; Grover & Leskovec KDD 2016):
    * one fixed-length walk per seed over the DIRECTED edge relation,
    * emitted as (walk_id, step, vertex) rows, step 0 = the seed. The
    * next hop is the out-neighbor minimizing [[walkHash]] — pseudo-random
    * but a pure function of (walk, step, candidate), so the corpus is
    * bit-reproducible on any partitioning, any engine, any rerun (the
    * hashSplit no-RNG convention; swap the hash for a salted one to draw
    * a fresh corpus). Walks that reach a sink (no out-edges) simply end
    * early — the row set records exactly the steps taken.
    *
    * Scale: state per step is one row per live walk; each step is ONE
    * join of the frontier against the src-partitioned edge cache
    * followed by a min(struct) aggregation whose map-side partials
    * absorb the fan-out — a hub vertex carrying many walks ranks its
    * out-edges once per (walk, partition), never materializing the
    * walks × degree product past the combiner. Length is a small fixed
    * constant (the DeepWalk regime), so lineage stays shallow; the
    * frontier is checkpointed per step because the union output and the
    * next join both consume it. */
  def deterministicWalks(edges: DataFrame, seeds: DataFrame, length: Int): DataFrame = Fixpoint.scope {
    // leaf: every step's frontier join (and biasedWalks' second
    // (prev, dst) probe) re-scans e — one materialization job, flat plans
    val e = Fixpoint.materializedLeaf(
      edges.select(col("src"), col("dst")).distinct())
    var frontier = Fixpoint.materializedLeaf(seeds
      .select(col("vertex").cast("long").as("walk_id"),
        lit(0L).as("step"), col("vertex").cast("long").as("vertex")))
    var out = frontier
    for (i <- 1 to length) {
      frontier = Fixpoint.materializedLeaf(frontier.join(e, frontier("vertex") === e("src"))
        .select(col("walk_id"),
          walkHash(col("walk_id"), i, col("dst")).as("hstep"), col("dst"))
        .groupBy("walk_id")
        // min over (hash, dst): total order, hash ties (different dsts
        // colliding mod P) break by the smaller vertex — the same pick
        // the oracle's row_number() ORDER BY h, dst makes
        .agg(min(struct(col("hstep"), col("dst"))).as("m"))
        .select(col("walk_id"), lit(i.toLong).as("step"),
          col("m.dst").as("vertex")))
      out = out.unionByName(frontier)
    }
    out
  }

  /** Second-order biased deterministic walks — node2vec's p/q exploration
    * control (Grover & Leskovec KDD 2016) without RNG: each candidate hop
    * gets an integer weight by its relation to the PREVIOUS vertex
    * (`wReturn` if it IS the previous vertex, `wCommon` if it is also a
    * neighbor of the previous vertex — the BFS-ish stay-close move,
    * `wExplore` otherwise — the DFS-ish move; node2vec's 1/p, 1, 1/q
    * triple scaled to integers), and the walk takes the candidate with
    * the highest priority q = w·P/(h+1) — the Duffield/Lund/Thorup
    * priority-sampling draw over the [[walkHash]] uniform, ONE
    * correctly-rounded IEEE division of exact int64s per candidate (the
    * Corpus.prioritySample arithmetic), so a weight-w candidate wins
    * proportionally w-often across steps yet every pick is
    * bit-reproducible and SQL-replayable. With equal weights the order
    * q desc ≡ h asc, so this degenerates EXACTLY to
    * [[deterministicWalks]] — spec-enforced.
    *
    * Step 0→1 has no previous vertex (prev = -1 matches nothing), so
    * every candidate weighs `wExplore` and the first hop is the unbiased
    * draw. Sinks end walks early, as in the unbiased variant.
    *
    * Scale: the per-step frontier⨝edges candidate relation additionally
    * probes the edge cache on (prev, dst) for the common-neighbor test —
    * the intrinsically second-order part of node2vec (single-node
    * implementations pay it as per-edge alias tables); both joins are
    * equi-joins against the same cached relation and the min-struct
    * aggregation still absorbs hub fan-out map-side. */
  def biasedWalks(edges: DataFrame, seeds: DataFrame, length: Int,
      wReturn: Long, wCommon: Long, wExplore: Long): DataFrame = Fixpoint.scope {
    require(wReturn > 0 && wCommon > 0 && wExplore > 0,
      "weights must be positive (a zero weight zeroes every priority tie)")
    val e = Fixpoint.materializedLeaf(
      edges.select(col("src"), col("dst")).distinct())
    val pe = e.select(col("src").as("ps"), col("dst").as("pd"))
    var frontier = Fixpoint.materializedLeaf(seeds
      .select(col("vertex").cast("long").as("walk_id"),
        lit(0L).as("step"), col("vertex").cast("long").as("vertex"),
        lit(-1L).as("prev")))
    var out = frontier.select("walk_id", "step", "vertex")
    for (i <- 1 to length) {
      val cand = frontier.join(e, frontier("vertex") === e("src"))
        .select(col("walk_id"), col("vertex").as("cur"), col("prev"), col("dst"))
      frontier = Fixpoint.materializedLeaf(cand
        .join(pe, cand("prev") === pe("ps") && cand("dst") === pe("pd"), "left")
        .select(col("walk_id"), col("cur"), col("dst"),
          when(col("dst") === col("prev"), lit(wReturn))
            .when(col("pd").isNotNull, lit(wCommon))
            .otherwise(lit(wExplore)).as("w"),
          walkHash(col("walk_id"), i, col("dst")).as("h"))
        .withColumn("prio",
          (col("w") * lit(2147483647L)).cast("double")
            / (col("h") + lit(1L)).cast("double"))
        .groupBy("walk_id")
        // max priority, ties (equal w AND equal h) break by smaller dst:
        // min over (-prio, dst) — double negation is exact
        .agg(min(struct((-col("prio")).as("np"), col("dst"),
          col("cur"))).as("m"))
        .select(col("walk_id"), lit(i.toLong).as("step"),
          col("m.dst").as("vertex"), col("m.cur").as("prev")))
      out = out.unionByName(frontier.select("walk_id", "step", "vertex"))
    }
    out
  }

  /** Skip-gram co-occurrence over a walk corpus — the pair relation
    * DeepWalk actually trains on (word2vec SGNS input; also the matrix
    * whose factorization node2vec implicitly performs, Levy & Goldberg
    * NIPS 2014): for every walk position, each vertex within `window`
    * steps contributes one (center, context) observation; the output is
    * the aggregated count per ordered pair. Feed it to any embedding
    * trainer — or use the counts directly as a random-walk proximity
    * measure.
    *
    * Scale: the walk relation fans out ≤ 2·window× through a self-join
    * keyed by walk_id (walks are length-bounded, so each join group is
    * ≤ length+1 rows — no skew possible by construction), then one
    * partial-aggregated groupBy on (center, context). Linear in corpus
    * size, no iteration. */
  def walkCooccurrence(walks: DataFrame, window: Int): DataFrame = {
    // bind by NAME, not position — the contract is the (walk_id, step,
    // vertex) schema, and a caller's select/reorder must not silently
    // swap step/vertex
    val a = walks.select(col("walk_id"), col("step").as("sa"),
      col("vertex").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("sb"),
      col("vertex").as("context"))
    a.join(b, "walk_id")
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("pair_n"))
  }

  /** SGNS negative-sampling noise table over a walk corpus — the last
    * ingredient of the word2vec/DeepWalk training triple (walks → skip-gram
    * pairs → negatives; Mikolov et al. NIPS 2013 draw noise words from the
    * unigram^0.75 distribution). Emits a k-row table of (vertex, slot)
    * draws whose expected multiplicity is proportional to
    * walk-frequency^0.75: each vertex enters `slots` independent
    * candidates (sampling with replacement), each candidate gets the
    * Duffield/Lund/Thorup priority q = w·P/(h+1) over the no-RNG hash
    * uniform (the [[Corpus.prioritySample]] arithmetic), and the top k
    * priorities win.
    *
    * Determinism with a FRACTIONAL weight: w = freq^0.75 cannot be exact
    * int64, but sqrt is the one non-arithmetic op IEEE 754 requires
    * correctly rounded on every engine — w = sqrt(freq · sqrt(freq)) is a
    * fixed tree of correctly-rounded ops (cast, sqrt, ×, sqrt, ×, ÷) with
    * identical promotion order in Spark and DuckDB, so priorities are
    * bit-identical cross-engine with no pow() in sight.
    *
    * Scale: frequency aggregation is one partial-aggregated pass over the
    * walk corpus; the candidate relation is vertices × slots (slots is a
    * small constant); selection is a bounded-heap top-k
    * (TakeOrderedAndProject, PlanSpec-guarded) — no global sort ever
    * materializes, so a 100 TB walk corpus pays one agg + one heap. */
  def walkNegatives(walks: DataFrame, slots: Int, k: Int): DataFrame = {
    val spark = walks.sparkSession
    val P = 2147483647L
    val freq = walks.groupBy("vertex").agg(count(lit(1)).as("freq"))
    val scored = freq
      .crossJoin(spark.range(slots).toDF("slot"))
      .select(col("vertex"), col("slot"),
        (sqrt(col("freq").cast("double") * sqrt(col("freq").cast("double")))
          * lit(P).cast("double")
          / ((col("vertex") % P * 131L + col("slot")) % P
              * 2654435761L % P + 1L).cast("double")).as("prio"))
    scored.orderBy(desc("prio"), col("vertex"), col("slot")).limit(k)
      .select(col("vertex"), col("slot"), round(col("prio"), 6).as("neg_q"))
  }

  /** Newman modularity of a vertex partition, in exact-integer form: for
    * each community c returns (label, intra_edges L_c, degree_sum d_c,
    * q_num = 4m·L_c − d_c²) where m is the undirected edge count. The
    * partition's modularity is Σ q_num / (2m)² — returning the integer
    * numerators keeps the score rational so both engines hash-match
    * exactly (the repo's log-free/float-free determinism rule); callers
    * divide once at the edge if they want the float.
    *
    * Scale: two edge-sized hash joins against the vertex-sized label
    * relation (broadcastable when communities fit, hash-partitioned
    * otherwise) + two partial-aggregated groupBys — no per-pair work, no
    * iteration; the natural "score this LPA/CC clustering" follow-up.
    */
  def modularityByCommunity(edges: DataFrame, labels: DataFrame): DataFrame = Fixpoint.scope {
    val (und, twoM, _) = undirectedSized(edges) // both directions: |und| = 2m
    val lab = labels.select(col("vertex"), col("label"))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val degSum = deg.join(lab, deg("src") === lab("vertex"))
      .groupBy("label").agg(sum("deg").as("degree_sum"))
    val ls = lab.select(col("vertex").as("sv"), col("label").as("sl"))
    val ld = lab.select(col("vertex").as("dv"), col("label").as("dl"))
    // every undirected intra-community edge appears in und once per
    // direction, so the filtered count is exactly 2·L_c (always even)
    val intra = und.join(ls, col("src") === col("sv"))
      .join(ld, col("dst") === col("dv"))
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("label"))
      .agg((count(lit(1)) / 2).cast("long").as("intra_edges"))
    // community-sized: materialized while the edge cache is still held, or
    // the returned lazy plan re-derives union+distinct+repartition once per
    // consuming branch at evaluation time (the Fixpoint checkpoint rule)
    Fixpoint.materializedLeaf(degSum.join(intra, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(2L * twoM) * coalesce(col("intra_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num")))
  }

  /** Connected components by min-label propagation with pointer jumping:
    * each round does the HashMin neighbor step, then shortcuts every label
    * through the label table (label <- label(label)). Known-min distance
    * at least doubles per round, so convergence is O(log diameter) instead
    * of O(diameter) — the variant that stays correct on long duplicate
    * chains at 100 TB, where a fixed linear round bound would split
    * components. Same label monotonicity (integer min) as
    * connectedComponents, so results are exact and engine-reproducible.
    */
  def connectedComponentsDoubling(
      edges: DataFrame, maxIter: Int = DefaultDoublingRounds): DataFrame = Fixpoint.scope {
    val (undirected, n, _) = undirectedSized(edges)
    val init = closureVertices(undirected).withColumn("label", col("vertex"))
    val result = Fixpoint.iterate(init, n, maxIter,
      converged = Fixpoint.monotoneSumUnchanged("label")) { (state, _) =>
      // HashMin step: min label over self + in-neighbors. A leaf
      // because the pointer jump consumes it on BOTH sides of a
      // self-join — without the barrier the agg subtree (and its edge-scan
      // feed) plans and executes twice per round.
      val nbr = state.join(undirected, state("vertex") === undirected("src"))
        .select(col("dst").as("vertex"), col("label"))
      val m = Fixpoint.materializedLeaf(state.select(col("vertex"), col("label"))
        .unionByName(nbr)
        .groupBy("vertex").agg(min("label").as("label")))
      // pointer jump: label <- label(label). Labels are always existing
      // vertex ids (mins of the initial id assignment), so the inner join
      // never drops a vertex; least() keeps monotonicity explicit.
      val jump = m.select(col("vertex").as("jv"), col("label").as("jl"))
      m.join(jump, m("label") === jump("jv"))
        .select(m("vertex"), least(m("label"), col("jl")).as("label"))
    }
    result.select("vertex", "label")
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** Dev-only scale-sweep data generator (not part of the driver contract):
  * writes a K-times inflated copy of a testdata directory so the bench can
  * measure how per-query cost scales with data volume (BASELINE.md's
  * measured-curve table).
  *
  * Inflation model — "more of the same, not denser":
  *  - FACT tables replicate K times with primary keys shifted per replica
  *    (orderkey/event_id/user_id/doc_id/vec_id + i*(max+1)), so key-grouped
  *    work gets K times more GROUPS of the same size, matching how real
  *    volume arrives. Foreign keys into dims stay in range.
  *  - DIM tables (region/nation/customer/supplier/part) copy unchanged —
  *    dims grow slower than facts in every warehouse, and this preserves
  *    broadcast-ability, which is the plan property under test.
  *  - documents replace every 3rd word with a replica-tagged token
  *    (replica 0 stays byte-identical): every 3-word shingle then contains
  *    a replaced word, so cross-replica shingle sets are DISJOINT — no
  *    artificial near-dup candidates (an appended-filler variant measured
  *    13x at K=10: Jaccard ~0.55 is LSH's worst spot, flooding the verify
  *    stage with failing candidates), text length and per-doc statistics
  *    unchanged, and each replica keeps its own copy of the corpus's true
  *    near-dup pairs — the real workload, K times over.
  *  - embeddings apply a per-replica random-SIGN-FLIP isometry (replica 0
  *    unchanged): a fixed diagonal ±1 matrix per replica preserves every
  *    intra-replica norm and cosine EXACTLY (so each replica carries the
  *    corpus's true near-dup pairs), while cross-replica cosines become
  *    random ±v·w walks, |cos| ~ N(0, 1/sqrt(64)) ≈ 0.125 — 3σ under the
  *    0.40 dedup threshold. Replicating unchanged instead measured 26x at
  *    K=10: every vector gets K identical twins, so TRUE duplicate pairs
  *    grow K²-fold — an inflation artifact, not a plan property.
  *
  * Graph queries derive edges by MODULO cuts of lineitem, so inflation of
  * the PARQUET tables densifies their graphs instead of growing them (a
  * fixed modulus maps every replica into the same vertex space). Their
  * scale curve is measured instead by the `--graphs` mode below, which
  * replicates the DERIVED edge relations as K disjoint vertex-id-shifted
  * copies (same degree distribution, K times the vertices — sparsity
  * preserved) and times the graph algorithms on 1x vs Kx directly.
  */
object Inflate {

  /** The shift base of key column `c`: one past its max, so copies shifted
    * by multiples of it stay disjoint. */
  def base(df: DataFrame, c: String): Long = df.agg(max(col(c))).first().getLong(0) + 1L

  /** K copies of `df` unioned, copy i with every column in `bases` shifted
    * by i times its base and then mapped by `each(copy, i)` (a per-replica
    * transform; none by default). FK-linked tables must share one base per
    * logical key, so the copies stay aligned across tables. */
  def replicate(df: DataFrame, k: Int, bases: Map[String, Long],
      each: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until k).map { i =>
      each(bases.foldLeft(df) { case (d, (c, b)) => d.withColumn(c, col(c) + lit(i * b)) }, i)
    }.reduce(_ unionByName _)

  /** K disjoint copies of an (src, dst) edge relation: every vertex id
    * shifts by replica*(maxId+1), so each copy carries the original's
    * exact degree distribution and component structure — "more graph",
    * never "denser graph". The honest scale model for vertex-grouped
    * algorithms (inflating a modulo-derived graph instead superimposes
    * replicas and measures saturation). */
  def replicateGraph(edges: DataFrame, k: Int): (DataFrame, Long) = {
    val base = edges.agg(greatest(max(col("src")), max(col("dst"))))
      .first().getLong(0) + 1L
    (replicate(edges.select("src", "dst"), k, Map("src" -> base, "dst" -> base)), base)
  }

  /** Skewed K-copy replication: [[replicateGraph]]'s disjoint copies with
    * a deterministic 1-in-`hubEvery` slice of every copy's edges rewired
    * to ONE fresh global hub vertex. The hub's degree grows with K·|E| —
    * a key whose frequency grows with data volume, the #1 100 TB plan
    * killer — while the rest of each copy keeps the original degree
    * structure. Severity knob: smaller `hubEvery` = hotter hub. */
  def replicateGraphSkewed(edges: DataFrame, k: Int,
      hubEvery: Long): (DataFrame, Long) = {
    val (rep, base) = replicateGraph(edges, k)
    val hub = k * base // a fresh id no replica uses
    val skewed = rep.select(col("src"),
        // select the rewired slice on ORIGINAL ids so every copy
        // contributes the same edge-shape to the hub
        when((col("src") % base * 31L + col("dst") % base) % hubEvery === 0,
          lit(hub)).otherwise(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    (skewed, base)
  }

  /** replica `i`'s text with every 3rd word replaced by a replica-tagged
    * token (see the object doc) */
  def tagWords(docs: DataFrame, i: Int): DataFrame = docs.withColumn("text",
    expr(s"concat_ws(' ', transform(split(text, ' '), (w, j) -> " +
      s"CASE WHEN j % 3 = 2 THEN concat('r$i', 'x', j) ELSE w END))"))

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--graphs")) { GraphScale.run(args.drop(1)); return }
    if (args.headOption.contains("--skew")) { SkewScale.run(args.drop(1)); return }
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(read(t), t)
    }
    // one base for the order key both fact tables carry, or replica
    // alignment silently relies on max(l_orderkey) == max(o_orderkey) —
    // true for TPC-H-shaped data (every order has lineitems) but a
    // join-selectivity skew for any input where it is not
    val (li, ord) = (read("lineitem"), read("orders"))
    val orderBase = math.max(base(li, "l_orderkey"), base(ord, "o_orderkey"))
    write(replicate(li, k, Map("l_orderkey" -> orderBase)), "lineitem")
    write(replicate(ord, k, Map("o_orderkey" -> orderBase)), "orders")
    val ev = read("events")
    write(replicate(ev, k, Map("event_id" -> base(ev, "event_id"),
      "user_id" -> base(ev, "user_id"))), "events")
    // embeddings: shift ids + per-replica sign-flip isometry (see scaladoc)
    val emb = read("embeddings")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    write(replicate(emb, k, Map("vec_id" -> base(emb, "vec_id")), (d, i) =>
      if (i == 0) d
      else {
        val rng = new scala.util.Random(0xC0FFEE + i)
        val signs = Seq.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
        d.withColumn("embedding",
          zip_with(col("embedding"), typedLit(signs), (v, s) => v * s))
      }), "embeddings")

    // documents: shift ids, then de-correlate replica text (see scaladoc)
    val docs = read("documents")
    write(replicate(docs, k, Map("doc_id" -> base(docs, "doc_id")), (d, i) =>
      if (i == 0) d
      else tagWords(d, i).withColumn("n_chars", length(col("text")))), "documents")

    println(s"[inflate] wrote ${k}x $inDir -> $outDir")
    spark.stop()
  }
}

/** The graph half of the scale sweep (`Inflate --graphs [sfDir] [k]`):
  * times each graph algorithm on its bench-derived edge relation and on
  * [[Inflate.replicateGraph]]'s K disjoint copies, printing per-algorithm
  * ratios for BASELINE.md's measured 10x table. A disjoint K-copy graph is
  * K independent instances of the same workload, so the ideal distributed
  * ratio is ~K/parallel-headroom for flat algorithms and ~K·rounds-parity
  * for iterative ones; any super-linear ratio is a plan defect, not an
  * inflation artifact (degree distribution is preserved exactly).
  *
  * SSSP is seeded with one source PER REPLICA (the same vertex, shifted):
  * a single source reaches only copy 0 of a disjoint graph and would
  * measure 1/K of the workload — the multi-seed frontier is the honest
  * K-times-the-work formulation. */
object GraphScale {
  def run(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    // optional 3rd arg: comma-separated algorithm names — a 30x ktruss run
    // should not pay for re-measuring the whole suite
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    def want(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import graft.graph._

    // the same derived relations the bench queries use (GraphQueries.scala
    // constants: Mod=300 core graph, maxId-200 triangle cut, Mod-20000
    // sparse k-truss cut)
    val core = Fixpoint.materializedLeaf(Graphs.lineitemEdges(spark, sfDir, 300))
    val triCut = Fixpoint.materializedLeaf(core.filter(col("src") <= 200 && col("dst") <= 200))
    val sparse = Fixpoint.materializedLeaf(Graphs.lineitemEdges(spark, sfDir, 20000))

    // min of 2 measured runs each (repeat-min, same basis as Bench); each
    // run releases only what it took, so the shared edge relations pinned
    // before it survive across timings
    val meter = QueryMeter(spark)
    def report(name: String, f1: => DataFrame, fk: => DataFrame): Unit = {
      val (t1, tk) = (meter.run(samples = 2)(f1).seconds, meter.run(samples = 2)(fk).seconds)
      println(f"[graphscale] $name%-18s 1x=$t1%.2fs ${k}x=$tk%.2fs ratio=${tk / t1}%.1fx")
    }

    // Materialized on first use, but ALWAYS dereferenced outside the
    // measured runs (the `core10C.count()` pin below): a measured run
    // releases every leaf first taken inside it, so a checkpoint first
    // materialized INSIDE a sample loses its blocks before sample 2
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    lazy val (core10, coreBase) = Inflate.replicateGraph(core, k)
    lazy val core10C = Fixpoint.materializedLeaf(core10)
    def needsCore10: Boolean = Seq("cc", "pagerank_damped", "pagerank_grown",
      "sssp_bfs", "cc_inc_fold", "sssp_w_inc_fold",
      "mis", "matching", "scc", "walks", "walks_biased",
      "coreness", "coreness_window", "densest").exists(want)
    if (needsCore10) core10C.count() // pin the checkpoint before any timing

    if (want("cc")) report("cc",
      Graphs.connectedComponents(core),
      Graphs.connectedComponents(core10C))
    if (want("pagerank_damped")) report("pagerank_damped",
      PageRank.runDamped(core, 10),
      PageRank.runDamped(core10C, 10))
    // the grown-graph warm start, both stages priced (the bench contract):
    // 4 rounds on the (src+dst)%5<>0 cut, then 6 full-graph rounds from
    // those ranks
    if (want("pagerank_grown")) {
      def grown(e: DataFrame): DataFrame = {
        val snap = Fixpoint.materializedLeaf(PageRank.runDamped(
          e.filter((col("src") + col("dst")) % 5 =!= 0), 4))
        PageRank.runDampedFrom(snap, e, 6)
      }
      report("pagerank_grown", grown(core), grown(core10C))
    }
    // symmetry-breaking primitives: disjoint copies keep each replica's
    // degree structure, and the id-dependent hash priorities give every
    // copy its own (equally valid) peel — rounds = max over copies, so
    // the ideal curve is near-flat (round count dominates, work per
    // round is K-parallel)
    if (want("mis")) report("mis",
      Graphs.maximalIndependentSet(core),
      Graphs.maximalIndependentSet(core10C))
    if (want("matching")) report("matching",
      Graphs.maximalMatching(core),
      Graphs.maximalMatching(core10C))
    if (want("scc")) report("scc",
      Graphs.stronglyConnectedComponents(core),
      Graphs.stronglyConnectedComponents(core10C))
    // walk corpus generation: K disjoint copies seed K× walks over K×
    // vertices — per-step frontier joins are K-parallel, rounds fixed at
    // the walk length, so the ideal curve is near-flat like mis/matching
    if (want("walks")) {
      def wk(e: DataFrame): DataFrame = {
        val seeds = Graphs.vertices(e).filter(col("vertex") % 3 === 0)
        Graphs.walkCooccurrence(Graphs.deterministicWalks(e, seeds, 4), 2)
      }
      report("walks", wk(core), wk(core10C))
    }
    if (want("walks_biased")) {
      def wkb(e: DataFrame): DataFrame = {
        val seeds = Graphs.vertices(e).filter(col("vertex") % 3 === 0)
        Graphs.biasedWalks(e, seeds, 4, 1L, 4L, 2L)
      }
      report("walks_biased", wkb(core), wkb(core10C))
    }
    // coreness: disjoint copies each converge to their own onion — rounds
    // = max over copies (same as 1x), per-round work K-parallel
    if (want("coreness")) report("coreness",
      Graphs.coreness(core),
      Graphs.coreness(core10C))
    if (want("coreness_window")) report("coreness_window",
      Graphs.corenessWindow(core),
      Graphs.corenessWindow(core10C))
    // densest subgraph: each copy carries the same density profile, so
    // the peel thresholds are copy-invariant and rounds match 1x
    if (want("densest")) report("densest",
      Graphs.densestSubgraph(core),
      Graphs.densestSubgraph(core10C))
    if (want("sssp_bfs")) report("sssp_bfs",
      ShortestPath.multiSourceBfs(core, Seq(1L)),
      ShortestPath.multiSourceBfs(core10C,
        (0 until k).map(i => 1L + i * coreBase)))
    if (want("triangles")) {
      val (tri10, _) = Inflate.replicateGraph(triCut, k)
      val tri10C = Fixpoint.materializedLeaf(tri10)
      report("triangles",
        Triangles.countShuffle(triCut, maxId = Long.MaxValue),
        Triangles.countShuffle(tri10C, maxId = Long.MaxValue))
    }
    // common-neighbor link prediction on the bench's sparse CnMod cut; the
    // id cap is applied BEFORE replication (replica ids exceed it by
    // construction), so each copy carries exactly the 1x workload
    if (want("commonneighbors")) {
      val cnCut = Fixpoint.materializedLeaf(Graphs.lineitemEdges(spark, sfDir, 50000)
        .filter(col("src") <= 25000 && col("dst") <= 25000))
      val (cnK, _) = Inflate.replicateGraph(cnCut, k)
      val cnKC = Fixpoint.materializedLeaf(cnK)
      report("commonneighbors",
        Triangles.commonNeighbors(cnCut, maxId = Long.MaxValue, k = 100),
        Triangles.commonNeighbors(cnKC, maxId = Long.MaxValue, k = 100))
    }
    // the sweep EXISTS to price the wedge growth, so it opts out of the
    // density guard (10 disjoint copies = 10x the 1x wedge count, which
    // crosses the fixed default budget by design, not by densification)
    if (want("ktruss_sparse")) {
      val (sparse10, _) = Inflate.replicateGraph(sparse, k)
      val sparse10C = Fixpoint.materializedLeaf(sparse10)
      report("ktruss_sparse",
        Graphs.kTruss(sparse, 3, maxWedges = Long.MaxValue),
        Graphs.kTruss(sparse10C, 3, maxWedges = Long.MaxValue))
    }

    // incremental algorithms, steady-state slice: the stored state (labels
    // / distances over the 80% cut) is MATERIALIZED outside the clock —
    // only the fold of the 20% batch is timed, pricing exactly what a
    // production ingest pays. The batch split replicates per-copy, so the
    // Kx fold sees K times the touched region.
    def cut(e: DataFrame, keep: Boolean): DataFrame =
      e.filter(((col("src") + col("dst")) % 5 =!= 0) === keep)
    if (want("cc_inc_fold")) {
      val cc1Stored = Fixpoint.materializedLeaf(Graphs.connectedComponents(cut(core, true)))
      val cc10Stored =
        Fixpoint.materializedLeaf(Graphs.connectedComponents(cut(core10C, true)))
      report("cc_inc_fold",
        Graphs.incrementalComponents(cc1Stored, cut(core, false)),
        Graphs.incrementalComponents(cc10Stored, cut(core10C, false)))
    }
    if (want("sssp_w_inc_fold")) {
      def weighted(e: DataFrame): DataFrame = e
        .withColumn("w", lit(1.0) + (col("src") + col("dst")) % 5)
      val w1 = Fixpoint.materializedLeaf(weighted(core))
      val w10 = Fixpoint.materializedLeaf(weighted(core10C))
      val sw1Stored = Fixpoint.materializedLeaf(ShortestPath.runWeighted(cut(w1, true), 1L, 50))
      // multi-seed twin of the sssp_bfs sweep: one source per replica, else
      // the fold reaches only copy 0 and measures 1/K of the work — seeds
      // ride as zero-distance rows in the stored relation
      val sw10Seeds = (0 until k).map(i => 1L + i * coreBase)
      val sw10Stored = Fixpoint.materializedLeaf(sw10Seeds
        .map(s => ShortestPath.runWeighted(cut(w10, true), s, 50)
          .filter(col("dist") =!= Double.PositiveInfinity))
        .reduce(_ unionByName _)
        .groupBy("vertex").agg(min("dist").as("dist")))
      report("sssp_w_inc_fold",
        ShortestPath.incrementalWeighted(sw1Stored, cut(w1, false), w1, 50),
        ShortestPath.incrementalWeighted(sw10Stored, cut(w10, false), w10, 50))
    }
    spark.stop()
  }
}

/** The skew half of the scale sweep (`Inflate --skew [sfDir] [k] [hubEvery]
  * [hotEvery] [algos]`): every uniform sweep replicates DISJOINT copies, so
  * the engine's skew defenses (degree-ordered orientation, postings caps,
  * salted aggregation, AQE skew join) were plan-argued but never
  * sweep-measured — and a key whose frequency grows with data volume is the
  * way 100 TB plans actually die. Two deliberate skew injections:
  *
  *  - GRAPH: [[Inflate.replicateGraphSkewed]] rewires 1-in-`hubEvery` edges
  *    of every copy to one global hub. With the hub the max-degree vertex,
  *    [[graft.graph.Graphs.orientByDegree]] points every hub edge INTO the
  *    hub, so π-oriented wedges through it are in(hub)·out(hub) = 0 — the
  *    defense under test for triangles/k-truss. Matching/MIS see the hub as
  *    one vertex whose edge slice drops once it decides.
  *
  *  - TEXT: 1-in-`hotEvery` documents become 60-word shared-boilerplate
  *    templates (plus a per-doc unique tail), pairwise Jaccard ~0.5 — LSH's
  *    worst spot: band collisions flood the candidate stage (~23% of hot
  *    pairs at 4x4 banding) but exact-Jaccard verification rejects them
  *    all, pure wasted work. The hot-gram postings cap is the substring
  *    path's defense (boilerplate grams blow past maxOcc and leave the
  *    anchor set, a documented recall boundary).
  *
  *  - EVENTS (round 11): 1-in-`hotEvery` events of the K-replicated log
  *    collapse onto ONE user — the bot-traffic shape — and the sweep times
  *    the actual catalog per-user-window queries (sessionize/asof/funnel/
  *    retention) over temp parquet dirs, so the measured plan is the
  *    certified plan. Severity knob: hotEvery=4 puts 25% of all events on
  *    one user.
  *
  * Reports 10x-uniform vs 10x-skewed; the honest penalty metric is
  * skew/uniform at the SAME volume (a fixed-work denominator would conflate
  * skew with scale). */
object SkewScale {
  def run(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val hubEvery = if (args.length > 2) args(2).toLong else 20L
    val hotEvery = if (args.length > 3) args(3).toLong else 50L
    val only: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    def want(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import graft.graph._

    // min of 2 measured runs each, as GraphScale
    val meter = QueryMeter(spark)
    def report(name: String, fu: => DataFrame, fs: => DataFrame): Unit = {
      val (tu, ts) = (meter.run(samples = 2)(fu).seconds, meter.run(samples = 2)(fs).seconds)
      println(f"[skewscale] $name%-18s ${k}x-uniform=$tu%.2fs ${k}x-skew=$ts%.2fs penalty=${ts / tu}%.2fx")
    }
    // honest denominators: hub rewiring collapses some edges under
    // distinct, so the skewed graph is slightly smaller — print both
    // sizes (and the hub's degree) next to every graph penalty
    def reportEdges(name: String, u: DataFrame, sk: DataFrame): Unit = {
      val hubDeg = sk.groupBy("dst").agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc).first()
      println(f"[skewscale] $name%-18s edges: uniform=${u.count()} skew=${sk.count()} " +
        s"hub_degree=${hubDeg.getLong(1)}")
    }

    // ---- graph side: one global hub spanning the copies
    val core = Fixpoint.materializedLeaf(Graphs.lineitemEdges(spark, sfDir, 300))
    lazy val coreU = Fixpoint.materializedLeaf(Inflate.replicateGraph(core, k)._1)
    lazy val coreS =
      Fixpoint.materializedLeaf(Inflate.replicateGraphSkewed(core, k, hubEvery)._1)
    if (Seq("matching", "mis", "walks", "coreness",
        "coreness_window").exists(want)) {
      coreU.count(); coreS.count()
    }

    if (want("triangles")) {
      val triCut = Fixpoint.materializedLeaf(core.filter(col("src") <= 200 && col("dst") <= 200))
      val triU = Fixpoint.materializedLeaf(Inflate.replicateGraph(triCut, k)._1)
      val triS = Fixpoint.materializedLeaf(Inflate.replicateGraphSkewed(triCut, k, hubEvery)._1)
      reportEdges("triangles", triU, triS)
      report("triangles",
        Triangles.countShuffle(triU, maxId = Long.MaxValue),
        Triangles.countShuffle(triS, maxId = Long.MaxValue))
    }
    if (want("ktruss_sparse")) {
      val sparse = Fixpoint.materializedLeaf(Graphs.lineitemEdges(spark, sfDir, 20000))
      val ktU = Fixpoint.materializedLeaf(Inflate.replicateGraph(sparse, k)._1)
      val ktS = Fixpoint.materializedLeaf(Inflate.replicateGraphSkewed(sparse, k, hubEvery)._1)
      reportEdges("ktruss_sparse", ktU, ktS)
      report("ktruss_sparse",
        Graphs.kTruss(ktU, 3, maxWedges = Long.MaxValue),
        Graphs.kTruss(ktS, 3, maxWedges = Long.MaxValue))
    }
    if (Seq("matching", "mis", "walks", "coreness", "coreness_window").exists(want))
      reportEdges("core", coreU, coreS)
    // walk corpus under the global hub: many walks route THROUGH the hub
    // each step — the min-agg's map-side partials are the claimed defense
    if (want("walks")) {
      def wk(e: DataFrame): DataFrame = {
        val seeds = Graphs.vertices(e).filter(col("vertex") % 3 === 0)
        Graphs.walkCooccurrence(Graphs.deterministicWalks(e, seeds, 4), 2)
      }
      report("walks", wk(coreU), wk(coreS))
    }
    // the rank-window twin under the hub: the per-round h-index window
    // sorts the hub's whole degree on one task — the documented hazard,
    // priced (round 13 demoted it to Graphs.corenessWindow)
    if (want("coreness_window")) report("coreness_window",
      Graphs.corenessWindow(coreU), Graphs.corenessWindow(coreS))
    // the bucketed DEFAULT under the SAME hub: the defense, priced — the
    // histogram shuffle + histogram-sized window must stay ~flat where
    // the rank window pays the hub's degree on one task
    if (want("coreness")) report("coreness",
      Graphs.coreness(coreU), Graphs.coreness(coreS))
    if (want("matching")) report("matching",
      Graphs.maximalMatching(coreU),
      Graphs.maximalMatching(coreS))
    if (want("mis")) report("mis",
      Graphs.maximalIndependentSet(coreU),
      Graphs.maximalIndependentSet(coreS))

    // ---- relational side: one hot join/group key whose row count grows
    // with K — the classic warehouse skew (a null-ish default key, a
    // bot user, a catch-all order). Defenses under test: AQE skew-join
    // split (spark.sql.adaptive.* defaults, Spark 3.2+) for the shuffle
    // join, map-side partial aggregation for the groupBy.
    if (Seq("join", "groupby").exists(want)) {
      def liRep(skew: Boolean): DataFrame = {
        val li = graft.core.Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        val rep = Inflate.replicate(li, k, Map("l_orderkey" -> Inflate.base(li, "l_orderkey")))
        if (!skew) rep
        // 1-in-hubEvery lines (same slice per copy) collapse onto ONE
        // order key: its row count grows with K·|lineitem|/hubEvery
        else rep.withColumn("l_orderkey",
          when(col("l_partkey") % hubEvery === 0, lit(0L))
            .otherwise(col("l_orderkey")))
      }
      def ordRep: DataFrame = {
        val ord = graft.core.Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey", "o_orderdate")
        Inflate.replicate(ord, k, Map("o_orderkey" -> Inflate.base(ord, "o_orderkey")))
          // the hot key needs a match or the skewed probe rows die at
          // the join instead of exercising the skewed build
          .unionByName(spark.range(1).select(lit(0L).as("o_orderkey"),
            lit(1L).as("o_custkey"), expr("DATE '1995-01-01'").as("o_orderdate")))
      }
      // strict vals: an eager checkpoint must materialize OUTSIDE the
      // measured runs, or the first run releases it before the second
      // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — the GraphScale dereference
      // rule)
      val liU = Fixpoint.materializedLeaf(liRep(skew = false))
      val liS = Fixpoint.materializedLeaf(liRep(skew = true))
      if (want("join")) {
        val ords = Fixpoint.materializedLeaf(ordRep)
        def q(li: DataFrame): DataFrame = li
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        report("join", q(liU), q(liS))
      }
      if (want("groupby")) {
        def q(li: DataFrame): DataFrame = li.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
        report("groupby", q(liU), q(liS))
      }
    }

    // ---- edit-join side: K× customers with REGENERATED serial names
    // (disjoint ranges — the realistic growth shape; buckets stay at the
    // structural (L+1)·|Σ| bound). The skew twin collapses 1-in-hotEvery
    // customers onto ONE shared name: every collapsed pair is a REAL
    // distance-0 pair, so the true output is quadratic in the duplicate
    // count — the winnow-family regime, priced honestly (exact dedup
    // first is the pipeline's documented answer, not a cap).
    if (Seq("editjoin", "editjoin_grouped", "sorted_block",
        "editjoin2").exists(want)) {
      val cust = graft.core.Tables.customer(spark, sfDir)
        .select("c_custkey")
      val rep = Inflate.replicate(cust, k, Map("c_custkey" -> Inflate.base(cust, "c_custkey")))
      def crep(hot: Boolean): DataFrame = {
        val named = rep.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
        if (!hot) named
        else named.withColumn("c_name",
          when(col("c_custkey") % hotEvery === 0, lit("Customer#000000000"))
            .otherwise(col("c_name")))
      }
      val cU = Fixpoint.materializedLeaf(crep(hot = false))
      val cS = Fixpoint.materializedLeaf(crep(hot = true))
      def ej(df: DataFrame): DataFrame =
        graft.ops.EditJoin.pairsWithin1(df, "c_custkey", "c_name")
      if (want("editjoin"))
        report("editjoin", ej(cU), ej(cS))
      // the grouped twin under the SAME duplicate identity: one group
      // row carries the C(n,2) mass the exploded form must write out
      if (want("editjoin_grouped")) {
        def ejg(df: DataFrame): DataFrame =
          graft.ops.EditJoin.pairsWithin1Grouped(df, "c_custkey", "c_name")
        report("editjoin_grouped", ejg(cU), ejg(cS))
      }
      // sorted-neighborhood under the same duplicate identity: the tie
      // block lands in one range partition but the per-row work stays
      // linear (row_number, then w-1 banded successors) — the window
      // method's structural insensitivity to value skew, priced
      if (want("sorted_block")) {
        def snb(df: DataFrame): DataFrame =
          graft.ops.SortedNeighborhood.pairs(df, "c_custkey", "c_name", 5)
        report("sorted_block", snb(cU), snb(cS))
      }
      // k=2 blocking at scale: SPARSE serials (×37) keep true distance-2
      // pairs rare, so the row prices the blocking machinery (the L²/2
      // variant fan-out, the bucket join, the verify) rather than a
      // dense-lattice quadratic OUTPUT — the dense regime is the catalog
      // face's job (capped serial prefix) and the duplicate regime is the
      // grouped twin's. The skew twin collapses 1-in-hotEvery names, so
      // run it with hotEvery ≥ ~200 to keep the true C(n,2) mass bounded.
      if (want("editjoin2")) {
        def sparse(df: DataFrame): DataFrame = df.withColumn("c_name",
          when(col("c_name") === "Customer#000000000", col("c_name"))
            .otherwise(format_string("Customer#%09d", col("c_custkey") * 37)))
        def ej2(df: DataFrame): DataFrame =
          graft.ops.EditJoin.pairsWithin2(sparse(df), "c_custkey", "c_name",
            maxCandidates = Long.MaxValue) // the sweep prices, never refuses
        report("editjoin2", ej2(cU), ej2(cS))
      }
    }

    // ---- text side: shared boilerplate = hot shingles / grams / bands
    def docReplicas(hot: Boolean): DataFrame = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val base = Inflate.base(docs, "doc_id")
      val boiler = (0 until 60).map(i => s"bp$i").mkString(" ")
      val rep = Inflate.replicate(docs, k, Map("doc_id" -> base),
        (d, i) => if (i == 0) d else Inflate.tagWords(d, i))
      if (!hot) rep
      else rep.withColumn("text",
        // 1-in-hotEvery docs (same slice in every copy) become a shared
        // 60-word template + a 30-word per-doc unique tail: pairwise
        // Jaccard ~0.5 across ALL copies — the boilerplate regime
        when(col("doc_id") % lit(base) % lit(hotEvery) === 0,
          concat(lit(boiler), lit(" "),
            concat_ws(" ", slice(split(col("text"), " "), 1, 30))))
          .otherwise(col("text")))
    }
    // ---- events side: ONE hot user owning 1-in-hotEvery of ALL events —
    // the realistic bot-traffic shape (run with hotEvery=4 for the "one
    // user is 25% of the log" severity). The per-user-window queries
    // (sessionize, as-of, funnel, retention) move each row exactly once
    // through a per-user sort/agg, which is precisely where a hot key
    // hurts: the hot user's whole slice lands on ONE task's sort buffer.
    // The sweep times the ACTUAL catalog queries over temp dirs (uniform
    // Kx vs hot Kx), so the measured plan is the certified plan — all four
    // read only events.parquet. Timestamps are untouched: the hot user's
    // events span the full window, maximizing its per-partition sort.
    if (Seq("sessionize", "asof", "funnel", "retention",
        "sessionize_chunked", "asof_chunked", "latest", "latest_agg",
        "ewma", "holt", "cusum", "quantile", "cms", "bloom",
        "hll", "mg").exists(want)) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val rep = Inflate.replicate(ev, k, Map("event_id" -> Inflate.base(ev, "event_id"),
        "user_id" -> Inflate.base(ev, "user_id")))
      val uDir = "/tmp/graft_skew_events_u"
      val sDir = "/tmp/graft_skew_events_s"
      rep.write.mode(SaveMode.Overwrite).parquet(s"$uDir/events.parquet")
      rep.withColumn("user_id",
          // same deterministic 1-in-hotEvery slice in every copy; user 0
          // becomes the bot (its own rows stay, adding to the heat)
          when(col("event_id") % hotEvery === 0, lit(0L)).otherwise(col("user_id")))
        .write.mode(SaveMode.Overwrite).parquet(s"$sDir/events.parquet")
      def q(name: String, dir: String): DataFrame =
        graft.SparkEntry.queries(name)(spark, dir)
      Seq("sessionize" -> "q_events_sessionize", "asof" -> "q_asof_join",
        "funnel" -> "q_events_funnel", "retention" -> "q_events_retention",
        // the chunked twins under the SAME hot user: the defense, priced
        "sessionize_chunked" -> "q_events_sessionize_chunked",
        "asof_chunked" -> "q_asof_join_chunked",
        // latest-per-key: window formulation vs the agg twin whose
        // map-side partials absorb the hot key before the shuffle
        "latest" -> "q_events_latest", "latest_agg" -> "q_events_latest_agg",
        // EWMA's rn<=W filter triggers the rank-limit pushdown
        // (WindowGroupLimit below the exchange), so the hot user's slice
        // is pruned to W rows per input partition BEFORE it can pile
        // onto one task — the built-in defense, priced here
        "ewma" -> "q_time_ewma",
        // holt/cusum ride the same trailing-window rn<=W cut as ewma, so
        // the same rank-limit pushdown prunes the hot user's slice to W
        // rows per input partition before it can pile onto one task
        "holt" -> "q_time_holt", "cusum" -> "q_time_cusum")
        .foreach { case (m, qn) =>
          if (want(m)) report(m, q(qn, uDir), q(qn, sDir))
        }
      // per-USER quantile profile under the hot user: the sketch's
      // hot-key-safe-by-construction claim, priced — the shuffle carries
      // bucket histograms (map-side partials absorb the bot's rows
      // before the exchange), so one user owning 25% of the log must
      // cost ~nothing vs the uniform twin
      if (want("quantile")) {
        def qsk(dir: String): DataFrame = {
          val e = spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
          graft.ops.QuantileSketch.quantiles(
            graft.ops.QuantileSketch.sketch(e, Seq("user_id"), "v"),
            Seq("user_id"), Seq(50, 90, 99))
        }
        report("quantile", qsk(uDir), qsk(sDir))
      }
      // per-USER Count-Min frequency sketch under the hot user: the CMS
      // twin of the quantile claim — the shuffle carries ≤ Depth·Width
      // cells per group however many events the bot owns (map-side
      // partials fold raw rows into cells before the exchange), so the
      // hot user must cost ~nothing; skew SHRINKS the distinct-group
      // count, so it can even be cheaper (the quantile pattern)
      if (want("cms")) {
        def csk(dir: String): DataFrame = {
          val e = spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("k"))
          graft.ops.CountMin.sketch(e, Seq("user_id"), "k")
        }
        report("cms", csk(uDir), csk(sDir))
      }
      // per-USER Bloom filter under the hot user: same fixed-size-state
      // argument via map-side partial DISTINCT (bits fold before the
      // exchange; ≤ Depth·min(Width, distinct values) bits per group)
      if (want("bloom")) {
        def bsk(dir: String): DataFrame = {
          val e = spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("k"))
          graft.ops.BloomSketch.sketch(e, Seq("user_id"), "k")
        }
        report("bloom", bsk(uDir), bsk(sDir))
      }
      // per-USER HLL registers under the hot user — the fourth sketch
      // family's sweep row: ≤ 64 register ints per group via map-side
      // partial max, whatever the bot owns
      if (want("hll")) {
        def hsk(dir: String): DataFrame = {
          val e = spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("k"))
          graft.ops.Hll.registers(e, Seq("user_id"), "k")
        }
        report("hll", hsk(uDir), hsk(sDir))
      }
      // per-USER Misra–Gries heavy-hitters summary under the hot user —
      // the FIFTH family member's sweep row: the build's exact batch
      // count folds map-side and the top-(K+1) extraction caps every
      // upstream partition at K+1 rows per group BEFORE the exchange
      // (TopKPerKey's partial pass), so the bot's mass is absorbed like
      // every other family member's
      if (want("mg")) {
        def msk(dir: String): DataFrame = {
          val e = spark.read.parquet(s"$dir/events.parquet")
            .select(col("user_id"),
              // the ramp key: counts rise linearly in k, so the top-K
              // cut is non-trivial at every scale
              expr("CAST(floor(sqrt(CAST(value AS DECIMAL(18,2)) * 100)) AS BIGINT)").as("k"))
          graft.ops.MisraGries.summary(e, Seq("user_id"), "k")
        }
        report("mg", msk(uDir), msk(sDir))
      }
    }

    if (Seq("minhash", "minhash_capped", "substring", "boilerplate",
        "novelty", "importance", "winnow", "winnow_capped").exists(want)) {
      val dU = Fixpoint.materializedLeaf(docReplicas(hot = false))
      val dS = Fixpoint.materializedLeaf(docReplicas(hot = true))
      if (want("minhash")) report("minhash",
        graft.pipeline.Dedup.minhashDedup(dU, 0.8),
        graft.pipeline.Dedup.minhashDedup(dS, 0.8))
      // the band-key postings cap (the fix the uncapped row motivates):
      // 256 >> any true near-dup family, << the boilerplate key occupancy
      if (want("minhash_capped")) report("minhash_capped",
        graft.pipeline.Dedup.minhashDedup(dU, 0.8, maxBandOcc = 256L),
        graft.pipeline.Dedup.minhashDedup(dS, 0.8, maxBandOcc = 256L))
      if (want("substring")) report("substring",
        graft.pipeline.Dedup.substringSpans(dU, 8, 16, 64L),
        graft.pipeline.Dedup.substringSpans(dS, 8, 16, 64L))
      // frequency-based boilerplate scrub UNDER the boilerplate regime:
      // the operator's claim is that a hot template makes it cheaper, not
      // slower (df-count partials collapse the hot gram; no pairwise
      // join exists to blow up) — while the pairwise path's cap DROPS
      // the template (recall boundary), this one removes it, priced here
      if (want("boilerplate")) report("boilerplate",
        graft.pipeline.Dedup.boilerplateScrub(dU, 8, minDf = 5L),
        graft.pipeline.Dedup.boilerplateScrub(dS, 8, minDf = 5L))
      // novelty under shared boilerplate: the min-carrier agg sees ONE
      // hot gram key per template position — map-side partials absorb it
      if (want("novelty")) report("novelty",
        graft.pipeline.TextAnalysis.noveltyScores(dU, 4),
        graft.pipeline.TextAnalysis.noveltyScores(dS, 4))
      // importance under shared boilerplate: each template gram becomes
      // ONE hot r_df key — count partials absorb it; the broadcast t_df
      // side is untouched and the raw side never goes pairwise
      if (want("importance")) {
        def imp(d: DataFrame): DataFrame =
          graft.pipeline.TextAnalysis.importanceScores(
            d.filter(col("doc_id") % 50 =!= 1),
            d.filter(col("doc_id") % 50 === 1), 2)
        report("importance", imp(dU), imp(dS))
      }
      // winnow under shared boilerplate: every template doc carries the
      // same ~30 selected prints, so the uncapped pair join goes quadratic
      // in the template count — the df cap is the defense, priced next row
      if (want("winnow")) report("winnow",
        graft.pipeline.Dedup.winnowPairs(dU),
        graft.pipeline.Dedup.winnowPairs(dS))
      if (want("winnow_capped")) report("winnow_capped",
        graft.pipeline.Dedup.winnowPairs(dU, 3, 4, 4L, 256L),
        graft.pipeline.Dedup.winnowPairs(dS, 3, 4, 4L, 256L))
    }
    spark.stop()
  }
}

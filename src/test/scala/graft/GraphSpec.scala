package graft

import org.apache.spark.sql.functions._
import graft.graph._

/** Unit fixtures per FIXTURES.md: hand-computed answers on tiny graphs. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toDF("src", "dst")

  /** the Spark jobs `body` runs */
  private def jobsOf(body: => Any): Long =
    scala.util.Using.resource(graft.tools.QueryMeter(spark)) { meter => body; meter.jobs }

  test("triangles: single directed 3-cycle counts once") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L)
    val n = Triangles.countShuffle(e, maxId = 100).first().getDouble(0)
    assert(n == 1.0)
  }

  test("triangles: complete bidirectional K4 has 8 directed 3-cycles; broadcast agrees") {
    val vs = (1L to 4L)
    val e = edges(vs.flatMap(a => vs.filter(_ != a).map(b => a -> b)): _*)
    val s = Triangles.countShuffle(e, 100).first().getDouble(0)
    val b = Triangles.countBroadcast(e, 100).first().getDouble(0)
    assert(s == 8.0 && b == 8.0) // C(4,3) triples x 2 orientations
  }

  test("triangles: max filter drops high ids (reference max-filter semantics)") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 200L, 200L -> 3L)
    assert(Triangles.countShuffle(e, 100).first().getDouble(0) == 1.0)
  }

  test("hits: star graph — center is the sole authority, leaves the hubs") {
    // 1->0, 2->0, 3->0: vertex 0 has all authority; hubs split evenly
    val e = edges(1L -> 0L, 2L -> 0L, 3L -> 0L)
    val r = Hits.run(e, iterations = 3).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(0L)._2 == 1.0 && r(0L)._1 == 0.0) // all auth, no hub
    for (v <- 1L to 3L) assert(math.abs(r(v)._1 - 1.0 / 3) < 1e-12 && r(v)._2 == 0.0)
    // L1 invariants hold on every iteration count
    val sums = Hits.run(e, iterations = 1).agg(sum("hub"), sum("auth")).first()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-12 &&
      math.abs(sums.getDouble(1) - 1.0) < 1e-12)
  }

  test("sssp: diamond ties, cycle, unreachable component") {
    // 1->2->4, 1->3->4 (diamond), 4->1 (cycle), 5->6 unreachable from 1
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 1L, 5L -> 6L)
    val d = ShortestPath.run(e, source = 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(1L) == 0.0 && d(2L) == 1.0 && d(3L) == 1.0 && d(4L) == 2.0)
    assert(d(5L).isPosInfinity && d(6L).isPosInfinity)
    // unit weights through the weighted entry: the same relax loop, cost 1
    val w = ShortestPath.runWeighted(e.withColumn("w", lit(1.0)), source = 1L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w == d)
  }

  test("sssp with path: tracks one shortest path, lexicographic tie-break") {
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L)
    val rows = ShortestPath.runWithPath(e, 1L).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](2)).map(_.toList)).toMap
    assert(rows(4L).contains(List(1L, 2L, 4L))) // (2.0,[1,2,4]) < (2.0,[1,3,4])
    assert(rows(1L).contains(List(1L)))
  }

  test("pagerank: chain-graph ranks match a driver-side reimplementation; mass conserved") {
    val k = 4
    val n = k * k
    val result = PageRank.run(Graphs.kChain(spark, k), iterations = 10, dummy = 0L,
        realVertexCount = n.toLong)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent plain-Scala reimplementation of the reference semantics
    // (PageRankRDD/src/main/scala/wc/FollowerCount.scala:58-70)
    val g = (1 to n).map(v => v.toLong -> (if (v % k == 0) 0L else v + 1L))
    var ranks = ((0L -> 0.0) +: (1 to n).map(_.toLong -> 1.0 / n)).toMap
    for (_ <- 1 to 10) {
      val contrib = g.groupBy(_._2).map { case (dst, es) => dst -> es.map(e => ranks(e._1)).sum }
      val delta = contrib.getOrElse(0L, 0.0)
      ranks = ranks.map { case (v, _) =>
        if (v == 0L) v -> 0.0
        else v -> (contrib.getOrElse(v, 0.0) + delta / n)
      }
    }
    ranks.foreach { case (v, r) => assert(math.abs(result(v) - r) < 1e-12, s"vertex $v") }
    val mass = result.values.sum
    assert(math.abs(mass - 1.0) < 1e-9) // dangling mass fully redistributed
  }

  test("damped pagerank: matches a driver-side reimplementation; mass conserved") {
    // star + tail: 1→3, 2→3, 3→4; vertex 4 is dangling
    val e = edges(1L -> 3L, 2L -> 3L, 3L -> 4L)
    val result = PageRank.runDamped(e, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val n = 4
    val g = Seq(1L -> 3L, 2L -> 3L, 3L -> 4L)
    val outdeg = g.groupBy(_._1).view.mapValues(_.size).toMap
    var ranks = (1 to n).map(_.toLong -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val dm = ranks.collect { case (v, r) if !outdeg.contains(v) => r }.sum
      val contrib = g.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(ed => ranks(ed._1) / outdeg(ed._1)).sum
      }
      ranks = ranks.map { case (v, _) =>
        v -> (PageRank.DampTeleport / n +
          PageRank.DampAlpha * (contrib.getOrElse(v, 0.0) + dm / n))
      }
    }
    ranks.foreach { case (v, r) => assert(math.abs(result(v) - r) < 1e-12, s"vertex $v") }
    assert(math.abs(result.values.sum - 1.0) < 1e-9) // teleport + α·mass = 1
    // the 2-in-link hub outranks the no-in-link sources
    assert(result(3L) > result(1L) && result(1L) == result(2L))
  }

  test("damped pagerank continuation law: warm-start from a snapshot equals the unbroken run") {
    // runDampedFrom(runDamped(g,a), g, b) == runDamped(g, a+b) up to float
    // accumulation-order noise (the folds are partition-order dependent —
    // see the runDampedFrom scaladoc; 1e-12 is the enforced band)
    val e = edges(1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 2L)
    val unbroken = PageRank.runDamped(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val snapshot = PageRank.runDamped(e, iterations = 3)
    val resumed = PageRank.runDampedFrom(snapshot, e, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed.keySet == unbroken.keySet)
    unbroken.foreach { case (v, r) =>
      assert(math.abs(resumed(v) - r) < 1e-12, s"vertex $v: $r vs ${resumed(v)}")
    }
    // and a NEW vertex (absent from the snapshot) seeds at uniform 1/N of
    // the updated graph. Warm-start mass on a GROWN graph is 1 + 1/N
    // (snapshot mass + the new seed); each damped round contracts the
    // excess by exactly α, so after k rounds total = 1 + α^k/N — assert
    // the contraction law itself, the mechanism that re-normalizes an
    // evolving graph's warm starts toward unit mass
    val e2 = edges(1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 2L, 5L -> 3L)
    val grown = PageRank.runDampedFrom(snapshot, e2, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expectedMass = 1.0 + math.pow(PageRank.DampAlpha, 4) / 5.0
    assert(grown.contains(5L) && math.abs(grown.values.sum - expectedMass) < 1e-9,
      s"mass ${grown.values.sum} != $expectedMass")
  }

  test("pagerank: graph without the dummy vertex keeps its ranks (delta = 0)") {
    val e = edges(1L -> 2L, 2L -> 1L)
    val r = PageRank.run(e, iterations = 3, dummy = 0L, realVertexCount = 2L)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == Map(1L -> 0.5, 2L -> 0.5)) // pure cycle, mass conserved, no sink
  }

  test("sssp: isolated source vertex still reports dist 0") {
    val e = edges(1L -> 2L)
    val d = ShortestPath.run(e, source = 9L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(9L) == 0.0 && d(1L).isPosInfinity && d(2L).isPosInfinity)
  }

  test("kmeans: two well-separated clusters converge to their means") {
    val pts = (Seq(1.0, 2.0, 3.0, 4.0, 5.0) ++ Seq(100.0, 101.0, 102.0, 103.0, 104.0))
      .toDF("x")
    val res = KMeans.run(pts, "x", init = Seq(0.0, 50.0), maxIter = 10)
    assert(res.centroids == Seq(3.0, 102.0))
    // SSE non-increasing across iterations (K-means/...:133-141 computes
    // but never asserts this; we do)
    assert(res.sse.zip(res.sse.tail).forall { case (a, b) => b <= a + 1e-9 })
    val sizes = res.assignments.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0 -> 5L, 1 -> 5L))
  }

  test("kmeans: empty cluster keeps its centroid") {
    val pts = Seq(1.0, 1.5, 2.0).toDF("x")
    val res = KMeans.run(pts, "x", init = Seq(1.0, 500.0), maxIter = 3, fixedIter = true)
    assert(res.centroids(1) == 500.0)
    assert(res.centroids(0) == 1.5)
  }

  test("cc doubling: diameter-99 chain converges within the log-round bound") {
    // 2 disjoint 100-vertex paths: diameter 99, far beyond any linear
    // round bound an engine could afford per-component at scale
    val e = Graphs.chainPaths(spark, k = 100, chains = 2)
    val labels = Graphs.connectedComponentsDoubling(e, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200)
    assert((1L to 100L).forall(labels(_) == 1L))
    assert((101L to 200L).forall(labels(_) == 101L))
  }

  test("cc doubling: matches linear HashMin on a small multi-component graph") {
    val e = edges(1L -> 2L, 2L -> 3L, 5L -> 4L, 7L -> 8L, 8L -> 7L, 10L -> 10L)
    val lin = Graphs.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val dbl = Graphs.connectedComponentsDoubling(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(dbl == lin)
    assert(dbl == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      7L -> 7L, 8L -> 7L, 10L -> 10L))
  }

  test("fixpoint loops share one loop session per width: a warm rerun compiles no class") {
    import graft.iterate.Fixpoint
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = edges(1L -> 2L, 2L -> 3L, 5L -> 4L, 7L -> 8L, 8L -> 7L, 10L -> 10L)
    def labels() = Graphs.connectedComponentsDoubling(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val cold = labels()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(labels() == cold)
    // generated classes are cached per session class loader: a fresh loop
    // session per call would recompile every step class here
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)

    def conf(s: org.apache.spark.sql.SparkSession, k: String) = s.conf.get(k)
    val one = Fixpoint.loopSession(spark, 10L)
    val two = Fixpoint.loopSession(spark, 600000L) // 2 x RowsPerPartition
    assert(Fixpoint.loopSession(spark, 0L) eq one)
    assert(Fixpoint.loopSession(spark, 999999L) eq two)
    assert(one ne two)
    for ((s, width) <- Seq(one -> "1", two -> "2")) {
      assert(conf(s, "spark.sql.shuffle.partitions") == width)
      assert(conf(s, "spark.sql.adaptive.enabled") == "false")
      assert(conf(s, "spark.sql.autoBroadcastJoinThreshold") == "-1")
      assert(conf(s, "spark.sql.constraintPropagation.enabled") == "false")
    }
    // a wide state keeps AQE and auto-broadcast; the caller's width caps it
    val configured = conf(spark, "spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val wide = try Fixpoint.loopSession(spark, 3000000L)
      finally spark.conf.set("spark.sql.shuffle.partitions", configured)
    assert(Set(one, two).forall(_ ne wide))
    assert(conf(wide, "spark.sql.shuffle.partitions") == "7")
    assert(conf(wide, "spark.sql.adaptive.enabled") == "true")
    assert(conf(wide, "spark.sql.autoBroadcastJoinThreshold") != "-1")
    assert(conf(wide, "spark.sql.constraintPropagation.enabled") == "false")
  }

  test("fixpoint primitives: stats re-bind runs no job; edge leaf releases every block") {
    import graft.iterate.Fixpoint
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.LogicalRDD
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 5L -> 6L)
    val sc = spark.sparkContext

    // (a) a checkpoint keeps its producing plan's size estimate; the
    // re-bind resets it to the default, under the session it is given
    val joined = (1 to 3).foldLeft(e.toDF("v0", "v1")) { (acc, i) =>
      acc.join(e.toDF(s"v$i", s"v${i + 1}"), s"v$i")
    }.localCheckpoint(eager = true)
    val default = spark.sessionState.conf.defaultSizeInBytes
    def size(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(joined) != default)
    val loop = Fixpoint.loopSession(spark, 10L)
    var rebound, moved: org.apache.spark.sql.DataFrame = null
    assert(jobsOf {
      rebound = Fixpoint.rebindStats(joined)
      moved = Fixpoint.rebindStats(joined, loop)
      assert(size(rebound) == default && size(moved) == default)
    } == 0)
    assert((rebound.sparkSession eq spark) && (moved.sparkSession eq loop))
    assert(moved.count() == joined.count())
    Fixpoint.unpersistMaterialized(joined)

    // (b) the edge leaf is one LogicalRDD at the sized width, and releasing
    // it leaves neither the derivation cache nor a checkpoint block behind
    val before = sc.getPersistentRDDs.keySet
    val (leaf, rows) = Fixpoint.srcPartitionedLeaf(e.filter(col("src") =!= col("dst")))
    assert(rows == 4L)
    leaf.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        assert(lr.rdd.getNumPartitions == Fixpoint.sizedPartitions(spark, 4L))
      case other => fail(s"edge leaf root is not a LogicalRDD: ${other.nodeName}")
    }
    assert(leaf.count() == 4L)
    Fixpoint.unpersistMaterialized(leaf)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))

    // (c) the same for a pinned build kept columnar: the pinned input is
    // gone on return, the kept relation sits in the cache manager until
    // released
    val kept = Fixpoint.withPinned(e)((u, n) => Fixpoint.columnar(u.filter(col("src") < n)))
    assert(kept.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(kept.count() == 3L)
    Fixpoint.unpersistMaterialized(kept)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))

    // (d) a scope keeps what its result reads — directly, through a stats
    // re-bind, or only through a lazy checkpoint that has not materialized
    // — and releases every other leaf and cache it took; a Unit scope, a
    // throw and an enclosing Unit scope release everything
    import org.apache.spark.storage.StorageLevel.NONE
    def held(df: org.apache.spark.sql.DataFrame): Boolean = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.getStorageLevel != NONE
      case _ => df.storageLevel != NONE
    }
    var taken = Seq.empty[org.apache.spark.sql.DataFrame]
    val (direct, viaRebind, viaLazy) = Fixpoint.scope {
      taken = Seq(e, e.filter(col("src") < 3L), e.filter(col("src") > 1L),
        e.filter(col("src") === 5L)).map(Fixpoint.materializedLeaf) :+
        Fixpoint.columnar(e.select("dst"))
      val Seq(a, b, c, _, _) = taken
      (a.filter(col("src") > 0L), Fixpoint.rebindStats(b),
        c.select("src").localCheckpoint(eager = false))
    }
    assert(taken.map(held) == Seq(true, true, true, false, false))
    assert(direct.count() == 4L && viaRebind.count() == 2L && viaLazy.count() == 3L)
    (viaLazy +: taken).foreach(Fixpoint.unpersistMaterialized)
    Fixpoint.scope { taken = Seq(Fixpoint.materializedLeaf(e), Fixpoint.columnar(e)); () }
    assert(!taken.exists(held))
    intercept[IllegalStateException](Fixpoint.scope {
      taken = Seq(Fixpoint.materializedLeaf(e), Fixpoint.persisted(e))
      taken.last.count()
      throw new IllegalStateException("body failed")
    })
    assert(!taken.exists(held))
    Fixpoint.scope { taken = Seq(Fixpoint.scope(Fixpoint.materializedLeaf(e))); () }
    assert(!taken.exists(held))
    // a persisted leaf is a cache: its scope releases the cache, not the leaf
    val base = Fixpoint.materializedLeaf(e)
    Fixpoint.scope { taken = Seq(Fixpoint.persisted(base)); taken.head.count(); () }
    assert(taken.head.storageLevel == NONE && held(base))
    Fixpoint.unpersistMaterialized(base)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))

    // (e) the loop core: each round's read is the round's one job, and once
    // it has materialized a state, the generation that state superseded
    // holds no cached block; the last state, built but not read, keeps its
    // predecessor
    def cached(df: org.apache.spark.sql.DataFrame): Boolean = {
      GraftBridge.drainListenerBus(sc)
      val id = df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      sc.getRDDStorageInfo.exists(_.id == id)
    }
    val gens = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val perRead = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last: org.apache.spark.sql.DataFrame = null
    val seed = Fixpoint.materializedLeaf(e)
    val loopJobs = jobsOf {
      last = Fixpoint.unfold(seed, 3) { (state, _) =>
        gens += state
        var n = 0L
        perRead += jobsOf { n = state.rdd.count() }
        n
      } { (state, n, i) =>
        assert(n == 4L)
        if (i > 0) assert(!cached(gens(i - 1)), s"generation ${i - 1} still cached after read $i")
        Some(state.withColumn("src", col("src") + 1L))
      }
    }
    assert(perRead == Seq(1L, 1L, 1L) && loopJobs == 3)
    assert(cached(gens(2)) && last.agg(min("src")).first().getLong(0) == 4L)
    Seq(last, gens(2)).foreach(Fixpoint.unpersistMaterialized)
    assert(sc.getPersistentRDDs.keySet.subsetOf(before))

    // (f) job-count pins of loops on the core: densest's peel of a K6 on a
    // path and CC over it, whose prologue is the symmetric edge cache with
    // no count of the loop's own; HITS and damped PageRank over it, sized
    // from their edge cache's count and their vertex count; and 3 BPE merges
    val k6 = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield a -> b
    val dense = edges((k6 ++ (10L until 20L).map(i => i -> (i + 1))): _*)
    assert(jobsOf(Fixpoint.scope { Graphs.densestSubgraph(dense); () }) == 9)
    assert(jobsOf(Fixpoint.scope { Graphs.connectedComponents(dense); () }) == 17)
    assert(jobsOf(Fixpoint.scope { Hits.run(dense, 3); () }) == 19)
    assert(jobsOf(Fixpoint.scope { PageRank.runDamped(dense, 3); () }) == 19)
    val docs = Seq(1L -> "low low low lower lowest").toDF("doc_id", "text")
    assert(jobsOf(Fixpoint.scope { graft.pipeline.Bpe.train(docs, merges = 3); () }) == 15)
  }

  test("symmetric edge cache: the closure adds one exchange, on src; the loop seed over it none") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    val aqe = new AdaptiveSparkPlanHelper {}
    // the exchanges a plan runs, through the plans of the caches it reads
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = aqe.flatMap(p) {
      case x: ShuffleExchangeLike => Seq(x)
      case s: InMemoryTableScanExec => exchanges(s.relation.cacheBuilder.cachedPlan)
      case _ => Nil
    }
    // an input with no exchange of its own, so every exchange is the closure's
    val input = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L, 5L -> 6L)
    var sized: (org.apache.spark.sql.DataFrame, Long, Long) = null
    // the input pin's count, then the one aggregate that fills the closure
    val fill = jobsOf { sized = Graphs.undirectedSized(input) }
    val (und, rows, vertices) = sized
    try {
      assert(fill == 6L)
      assert(rows == 8L && vertices == 5L)
      val closure = exchanges(und.queryExecution.executedPlan)
      assert(closure.size == 1, s"closure exchanges: ${closure.map(_.outputPartitioning)}")
      // the repartition by src (a one-partition width plans it as SinglePartition)
      assert(closure.head.shuffleOrigin == REPARTITION_BY_NUM)
      closure.head.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "src")
        case SinglePartition =>
        case other => fail(s"closure exchange is not on src: $other")
      }
      // the seed's own plan, not the cache's
      val seed = Graphs.closureVertices(und)
      assert(aqe.collect(seed.queryExecution.executedPlan) { case x: ShuffleExchangeLike => x }.isEmpty)
      assert(seed.count() == 5L)
    } finally graft.iterate.Fixpoint.unpersistMaterialized(und)
  }

  test("densest subgraph: an edgeless input yields no candidate rows") {
    // the peel stops in its first round (2m = 0), whose empty candidate is
    // the winner: it must still read after the loop has released its rounds
    assert(Graphs.densestSubgraph(edges()).collect().isEmpty)
  }

  test("hits rounds plan under the loop session, not the caller's") {
    import graft.iterate.Fixpoint
    val out = Hits.run(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L), 2)
    assert(out.sparkSession ne spark)
    assert(out.sparkSession eq Fixpoint.loopSession(spark, 4L))
    assert(out.count() == 4L)
  }

  test("driver loops release what they supersede: each call leaves only its result cached") {
    val chain = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 7L -> 8L)
    val cyclic = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L,
      3L -> 4L, 6L -> 7L)
    // a planted K6 on a path: three peel rounds, the K6 round wins
    val k6 = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield a -> b
    val dense = edges((k6 ++ (10L until 20L).map(i => i -> (i + 1))): _*)
    val sssp = leavesOnlyResult("sssp")(ShortestPath.run(chain, 1L))
    val cc = leavesOnlyResult("cc")(Graphs.connectedComponents(chain))
    val ccd = leavesOnlyResult("cc doubling")(Graphs.connectedComponentsDoubling(chain))
    val densest = leavesOnlyResult("densest")(Graphs.densestSubgraph(dense))
    val matching = leavesOnlyResult("matching")(Graphs.maximalMatching(cyclic))
    val scc = leavesOnlyResult("scc")(Graphs.stronglyConnectedComponents(cyclic))
    // the results still read from their blocks after the releases
    assert(sssp.filter(col("dist") === 4.0).count() == 1L)
    assert(cc.select("label").distinct().count() == 2L)
    assert(ccd.select("label").distinct().count() == 2L)
    assert(densest.count() == 6L)
    assert(matching.count() >= 1L)
    assert(scc.filter(col("scc") < 0).count() == 0L)
    val truss = leavesOnlyResult("ktruss")(Graphs.kTruss(dense, 3))
    val core = leavesOnlyResult("coreness")(Graphs.coreness(dense))
    val mis = leavesOnlyResult("mis")(Graphs.maximalIndependentSet(cyclic))
    val coloring = leavesOnlyResult("coloring")(Graphs.greedyColoring(cyclic))
    val lpa = leavesOnlyResult("lpa")(Graphs.labelPropagation(chain))
    val pr = leavesOnlyResult("pagerank")(PageRank.run(Graphs.kChain(spark, 3), 3, 0L, 9L))
    val damped = leavesOnlyResult("pagerank damped")(PageRank.runDamped(cyclic, 3))
    val hits = leavesOnlyResult("hits")(Hits.run(cyclic, 3))
    assert(truss.count() == 15L)
    assert(core.filter(col("coreness") === 5L).count() == 6L)
    assert(mis.count() >= 1L && coloring.filter(col("color") < 0).count() == 0L)
    assert(lpa.count() == 7L && pr.count() == 10L && damped.count() == 7L)
    assert(hits.count() == 7L)
    val bfs = leavesOnlyResult("landmarks")(ShortestPath.multiSourceBfs(chain, Seq(1L, 7L)))
    val path = leavesOnlyResult("sssp path")(ShortestPath.runWithPath(chain, 1L))
    val levels = leavesOnlyResult("scc levels")(Graphs.sccCondensationLevels(cyclic))
    val warm = leavesOnlyResult("pagerank warm")(PageRank.runDampedFrom(damped, cyclic, 2))
    val ppr = leavesOnlyResult("ppr")(PageRank.runPersonalized(cyclic, Seq(1L), 3))
    assert(bfs.count() == 7L && path.filter(col("dist") === 4.0).count() == 1L)
    assert(levels.select("level").distinct().count() == 3L)
    assert(warm.count() == 7L && ppr.count() == 7L)
  }

  test("cc doubling: linear HashMin at the same round count splits the long chain") {
    // negative control — shows why doubling matters: 15 linear rounds
    // cannot label a diameter-99 chain
    val e = Graphs.chainPaths(spark, k = 100, chains = 1)
    val lin = Graphs.connectedComponents(e, maxIter = 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lin(100L) != 1L)
  }

  test("maximal independent set: independent, maximal, deterministic") {
    // path 1-2-3-4-5 plus an isolated-ish pendant 6-1 and a triangle 7-8-9
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 6L -> 1L,
      7L -> 8L, 8L -> 9L, 9L -> 7L)
    val mis = Graphs.maximalIndependentSet(e).collect()
      .map(_.getLong(0)).toSet
    val und = e.collect().flatMap(r =>
      Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))).toSet
    // independence: no edge inside the set
    und.foreach { case (a, b) =>
      assert(!(mis.contains(a) && mis.contains(b)), s"edge ($a,$b) inside MIS")
    }
    // maximality: every non-member has a member neighbor
    val all = und.map(_._1)
    (all -- mis).foreach { v =>
      assert(und.exists { case (a, b) => a == v && mis.contains(b) },
        s"non-member $v has no MIS neighbor — not maximal")
    }
    // triangle contributes exactly one member; deterministic re-run
    assert(mis.intersect(Set(7L, 8L, 9L)).size == 1)
    val again = Graphs.maximalIndependentSet(e).collect().map(_.getLong(0)).toSet
    assert(again == mis)
  }

  test("maximal matching: pairs are disjoint edges, no active edge survives") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 6L -> 1L,
      7L -> 8L, 8L -> 9L, 9L -> 7L)
    val pairs = Graphs.maximalMatching(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val und = e.collect().flatMap(r =>
      Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))).toSet
    // every pair is a real edge; endpoints are disjoint across pairs
    pairs.foreach { case (a, b) => assert(und.contains(a -> b), s"($a,$b) not an edge") }
    val touched = pairs.flatMap(p => Seq(p._1, p._2))
    assert(touched.size == pairs.size * 2, "matched pairs share a vertex")
    // maximality: every edge has at least one matched endpoint
    und.foreach { case (a, b) =>
      assert(touched.contains(a) || touched.contains(b),
        s"edge ($a,$b) between two unmatched vertices — not maximal")
    }
    // the derived 2-approx vertex cover IS the touched set, and it covers
    val cover = Graphs.vertexCover(e).collect().map(_.getLong(0)).toSet
    assert(cover == touched)
    und.foreach { case (a, b) => assert(cover.contains(a) || cover.contains(b)) }
  }

  test("mis/matching on the derived graph: maximality holds within the round bound") {
    // maximality over the REAL graph doubles as the decidedness check: a
    // vertex left active past the last round surfaces as a maximality
    // violation (no MIS neighbor / an edge between two unmatched ends)
    val e = Graphs.lineitemEdges(spark, sf("sf0.001"), 300)
    val und = e.collect().flatMap(r =>
      Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))).toSet
    val all = und.map(_._1)

    val mis = Graphs.maximalIndependentSet(e).collect().map(_.getLong(0)).toSet
    und.foreach { case (a, b) => assert(!(mis.contains(a) && mis.contains(b))) }
    (all -- mis).foreach { v =>
      assert(und.exists { case (a, b) => a == v && mis.contains(b) },
        s"vertex $v undecided or non-maximal at ${Graphs.DefaultMisRounds} rounds")
    }

    val pairs = Graphs.maximalMatching(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val touched = pairs.flatMap(p => Seq(p._1, p._2))
    assert(touched.size == pairs.size * 2)
    und.foreach { case (a, b) =>
      assert(touched.contains(a) || touched.contains(b),
        s"edge ($a,$b) unmatched-unmatched at ${Graphs.DefaultMatchingRounds} rounds")
    }
  }

  test("scc: two cycles joined one-way plus a tail resolve to the right components") {
    // cycle A {1,2,3}, cycle B {4,5,6}, one-way bridge 3->4, tail 6->7
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L,
      3L -> 4L, 6L -> 7L)
    val scc = Graphs.stronglyConnectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc.values.forall(_ >= 0), s"undecided vertices in $scc")
    // component label = the coloring root = max id of the SCC
    assert(scc(1L) == 3L && scc(2L) == 3L && scc(3L) == 3L)
    assert(scc(4L) == 6L && scc(5L) == 6L && scc(6L) == 6L)
    assert(scc(7L) == 7L) // trivial SCC
  }

  test("greedy coloring: valid on fixtures, odd cycle needs 3 colors, path needs 2") {
    // triangle: 3 mutually adjacent vertices -> colors {1,2,3}
    val tri = edges(1L -> 2L, 2L -> 3L, 1L -> 3L)
    val ct = Graphs.greedyColoring(tri).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ct.values.toSeq.sorted == Seq(1L, 2L, 3L))
    // path: 2 colors suffice and no edge is monochrome
    val path = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val cp = Graphs.greedyColoring(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cp.values.forall(_ >= 1) && cp.values.max <= 2)
    Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L).foreach { case (a, b) =>
      assert(cp(a) != cp(b), s"edge ($a,$b) monochrome")
    }
    // derived bounded-degree graph (the q_graph_coloring fixture shape):
    // every vertex decided, no monochrome edge, Δ+1 bound respected
    val li = graft.core.Tables.lineitem(spark, sf("sf0.001"))
    val e = li.select((col("l_orderkey") % 20000).cast("long").as("src"),
        ((col("l_orderkey") % 20000 + 1 + col("l_partkey") % 8) % 20000)
          .cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val got = Graphs.greedyColoring(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ >= 1), s"${got.count(_._2 < 0)} undecided")
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    es.foreach { case (a, b) => assert(got(a) != got(b), s"edge ($a,$b) monochrome") }
    val maxDeg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .values.map(_.size).max
    assert(got.values.max <= maxDeg + 1)
  }

  test("scc strict: residue guard trips on a chain needing more phases, passes with enough") {
    // descending-id singleton chain 6->5->...->1: every vertex colors to 6
    // in phase 1 but only {6} decides — one peel per phase, so depth 6
    // needs 6 phases. With the default 3-phase budget the base algorithm
    // returns scc = -1 residue and the strict variant must refuse.
    val e = edges(6L -> 5L, 5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L)
    val base = Graphs.stronglyConnectedComponents(e, phases = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base.values.exists(_ < 0), s"fixture too shallow — no residue in $base")
    val ex = intercept[IllegalArgumentException] {
      Graphs.stronglyConnectedComponentsStrict(e, phases = 3)
    }
    assert(ex.getMessage.contains("undecided"))
    // enough phases: all singletons decide and strict passes them through
    val ok = Graphs.stronglyConnectedComponentsStrict(e, phases = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok == (1L to 6L).map(v => v -> v).toMap)
  }

  test("scc condensation levels: cycles collapse, layers follow the DAG") {
    // A {1,2,3} -> B {4,5,6} -> {7}: levels 0, 1, 2
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 4L,
      3L -> 4L, 6L -> 7L)
    val lv = Graphs.sccCondensationLevels(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L).forall(lv(_) == (3L, 0L)))
    assert(Seq(4L, 5L, 6L).forall(lv(_) == (6L, 1L)))
    assert(lv(7L) == (7L, 2L))
  }

  test("scc on the derived graph equals driver-side Tarjan, all decided") {
    val e = Graphs.lineitemEdges(spark, sf("sf0.001"), 300)
    val got = Graphs.stronglyConnectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ >= 0),
      s"${got.count(_._2 < 0)} vertices undecided at ${Graphs.DefaultSccPhases} phases")

    // reference: recursive Tarjan over the collected edge list
    val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toList }
    val vs = es.flatMap(p => Seq(p._1, p._2)).distinct
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    def strongconnect(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      adj.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) { strongconnect(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val members = scala.collection.mutable.ListBuffer[Long]()
        var w = -1L
        while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
        val label = members.max // the coloring algorithm labels by max id
        members.foreach(comp(_) = label)
      }
    }
    vs.foreach(v => if (!index.contains(v)) strongconnect(v))
    assert(got == comp.toMap)
  }

  test("clustering coefficient: K4 vertices score 1.0, path vertices 0.0") {
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val cc4 = Triangles.clusteringCoefficient(k4, maxId = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every K4 vertex: degree 3, C(3,2)=3 wedges all closed, coef 1
    (1L to 4L).foreach(v => assert(cc4(v) == ((3L, 3L, 1.0)), s"vertex $v"))

    val path = edges(1L -> 2L, 2L -> 3L)
    val ccp = Triangles.clusteringCoefficient(path, maxId = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(ccp(2L) == ((2L, 0L, 0.0))) // open wedge
    assert(ccp(1L) == ((1L, 0L, 0.0))) // deg < 2 -> defined as 0
  }

  test("local bridges: pendant and chain edges flagged, triangle edges not") {
    // triangle 1-2-3 with a pendant 3->4 and a 2-chain 4->5
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L)
    val bridges = graft.graph.Graphs.localBridges(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bridges == Set((3L, 4L), (4L, 5L)))
  }

  test("multi-source bfs: per-seed distances, sparse unreached pairs, isolated seed") {
    // chain 1->2->3->4 plus a branch 2->5; vertex 9 exists only as a seed
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 5L)
    val out = graft.graph.ShortestPath.multiSourceBfs(e, Seq(1L, 3L, 9L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 4L)) == 3 && out((1L, 5L)) == 2 && out((1L, 1L)) == 0)
    assert(out((3L, 4L)) == 1)
    assert(!out.contains((3L, 1L)) && !out.contains((3L, 5L))) // unreachable = absent
    assert(out((9L, 9L)) == 0 && out.keys.count(_._1 == 9L) == 1) // isolated seed
  }

  test("ktruss: K4 survives at k=4 with support 2; pendant tail and bridge peel") {
    // K4 on 1-4 (each edge closes 2 triangles), plus a tail 4->5->6 whose
    // edges close none, plus a bridge triangle 4-5-7 that gives edge 4-5
    // support 1 — at k=4 (sup >= 2) everything but the K4 must peel,
    // including the cascade: the bridge triangle's edges all die together
    val e = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L,
      4L -> 5L, 5L -> 6L, 5L -> 7L, 4L -> 7L)
    val out = graft.graph.Graphs.kTruss(e, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(out.values.forall(_ == 2L))
    // k=3 (sup >= 1) additionally keeps the bridge triangle, not the tail
    val k3 = graft.graph.Graphs.kTruss(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k3 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 7L), (5L, 7L)))
  }

  test("incremental CC == batch CC of the union; batch edges bridge old components") {
    // existing graph: components {1,2,3} and {10,11}, isolated-by-absence 20
    val existing = edges(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val labels = Graphs.connectedComponents(existing)
    // batch: bridges the two old components through NEW vertex 20, and
    // adds a fresh component {30, 31}
    val batch = edges(3L -> 20L, 20L -> 10L, 30L -> 31L)
    val inc = Graphs.incrementalComponents(labels, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Graphs.connectedComponents(existing.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 30L -> 30L, 31L -> 30L))
  }

  test("incremental CC with no merging edges leaves the labeling unchanged") {
    val existing = edges(1L -> 2L, 10L -> 11L)
    val labels = Graphs.connectedComponents(existing)
    // batch edges stay inside existing components
    val inc = Graphs.incrementalComponents(labels, edges(2L -> 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("degree-ordered orientation: hub wedge fan-out collapses, support unchanged") {
    // star with the hub at a MID-RANGE id (100): under id-ordering ~half
    // the leaves are smaller and half larger, so the hub is a wedge center
    // with in·out ≈ (n/2)² — the skew term degree-ordering exists to kill.
    // Under (degree, id) orientation every star edge points AT the hub
    // (leaves have degree 1), so the hub has no out-edges and the star
    // contributes zero wedges. A K3 on high ids supplies real triangles.
    val star = (1L to 99L).map(_ -> 100L) ++ (101L to 199L).map(100L -> _)
    val tri = Seq(201L -> 202L, 202L -> 203L, 201L -> 203L)
    val e = edges((star ++ tri): _*)
    val und = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()

    val g = graft.graph.Graphs.orientByDegree(und)
    // exactly one orientation per undirected edge
    assert(g.count() == und.count() / 2)
    // fan-out: the K3 contributes its 1 wedge; the 198-leaf star must
    // contribute 0 (id-ordering would pay 99·99 ≈ 9801 here)
    assert(graft.graph.Graphs.wedgeCount(g) == 1L)
    // support is orientation-invariant: only the K3 edges, each sup 1
    val sup = graft.graph.Graphs.orientedEdgeSupport(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup == Map((201L, 202L) -> 1L, (202L, 203L) -> 1L, (201L, 203L) -> 1L))
  }

  test("lpa: bridged triangles stay separate communities; K4 collapses to min label") {
    // two triangles joined by one bridge edge — frequency-driven LPA keeps
    // two communities where reachability-driven CC would merge them
    val bridged = edges(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 3L -> 4L)
    val labels = Graphs.labelPropagation(bridged, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))

    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val l4 = Graphs.labelPropagation(k4, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l4.values.toSet == Set(1L))
  }

  test("personalized pagerank: mass decays with distance from the seed") {
    import spark.implicits._
    // chain 1->2->3->4 plus a component {10,11} unreachable from the seed
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val pr = PageRank.runPersonalized(e, seeds = Seq(1L), iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L) && pr(3L) > pr(4L))
    // no seed, no in-path: the disconnected component scores zero
    assert(pr(10L) == 0.0 && pr(11L) == 0.0)
  }

  test("weighted sssp: cheap multi-hop path beats expensive direct edge") {
    import spark.implicits._
    // 1->4 direct costs 10; 1->2->3->4 costs 1+1+1 = 3; vertex 5 unreachable
    val e = Seq((1L, 4L, 10.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (5L, 5L, 1.0)).filter(t => t._1 != t._2).toDF("src", "dst", "w")
    val d = ShortestPath.runWeighted(e, source = 1L, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(1L) == 0.0 && d(2L) == 1.0 && d(3L) == 2.0 && d(4L) == 3.0)
    // unit-hop BFS on the same graph would answer 1 for vertex 4
    val unit = ShortestPath.run(e.select("src", "dst"), source = 1L, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(unit(4L) == 1.0)
  }

  test("incremental weighted sssp == batch on the union; shortcut propagates through old edges") {
    import spark.implicits._
    // old graph: chain 1->2->3->4 (unit cost) plus expensive 1->6 (20);
    // 4->5 continues the chain so improvements must PROPAGATE through
    // old edges past the batch edge's endpoint
    val old = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0),
      (1L, 6L, 20.0)).toDF("src", "dst", "w")
    // batch: a shortcut 1->4 (1.0) that improves 4, 5, and — via the new
    // vertex 7 — a region the old graph never had
    val batch = Seq((1L, 4L, 1.0), (4L, 7L, 2.0)).toDF("src", "dst", "w")
    val all = old.unionByName(batch)
    val stored = ShortestPath.runWeighted(old, source = 1L, maxIter = 10)
    val inc = ShortestPath.incrementalWeighted(stored, batch, all, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = ShortestPath.runWeighted(all, source = 1L, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc == full)
    assert(inc(4L) == 1.0 && inc(5L) == 2.0 && inc(7L) == 3.0 && inc(6L) == 20.0)
  }

  test("incremental weighted sssp: non-improving batch leaves distances unchanged") {
    import spark.implicits._
    val old = Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val batch = Seq((1L, 3L, 5.0)).toDF("src", "dst", "w") // worse than 1->2->3
    val stored = ShortestPath.runWeighted(old, source = 1L, maxIter = 10)
    val inc = ShortestPath.incrementalWeighted(stored, batch, old.unionByName(batch), maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("common neighbors: non-adjacent pairs ranked by shared-neighbor count") {
    import spark.implicits._
    // 1 and 2 both point at {3,4,5}; 6 shares only {3} with them; edge
    // (1,2) exists so that pair must NOT be predicted
    val e = Seq((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L), (2L, 5L),
      (6L, 3L), (1L, 2L)).toDF("src", "dst")
    val top = Triangles.commonNeighbors(e, maxId = 100, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // top pair: (3,4) share {1,2} like (3,5),(4,5) — cn=2 each, tie-broken
    // by (u,v); pair (1,2) with cn=3 is excluded because the edge exists
    assert(!top.exists(t => t._1 == 1L && t._2 == 2L))
    assert(top.head == (3L, 4L, 2L) && top(1) == (3L, 5L, 2L))

    // Jaccard normalization reranks: (4,5) share ALL their neighbors
    // (deg 2 each, cn 2 -> score 1.0), beating (3,4)/(3,5) whose vertex 3
    // has the extra neighbor 6 (score 2/3)
    val jp = Triangles.jaccardLinkPred(e, maxId = 100, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(jp.head == (4L, 5L, 2L, 1.0))
  }

  test("k-core: cascading peel removes a chain hanging off a triangle") {
    import spark.implicits._
    // triangle {1,2,3} plus chain 3-4-5: at k=2, vertex 5 (deg 1) peels
    // first, then 4 (deg drops to 1) — only the triangle survives, and
    // removal must cascade (a single pass would keep 4)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val core = Graphs.kCore(e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree peels everything
    assert(Graphs.kCore(e, k = 4).isEmpty)
  }

  test("modularity: two bridged triangles — exact integer numerators") {
    import spark.implicits._
    // two triangles joined by one bridge edge; m = 7 undirected edges.
    // Community {1,2,3}: L=3, d=2+2+3=7 -> q_num = 4*7*3 - 49 = 35 (and
    // symmetrically for {4,5,6}); Q = (35+35)/(2m)^2 = 70/196 ~ 0.357
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L), (5L, 40L),
      (6L, 40L)).toDF("vertex", "label")
    val m = Graphs.modularityByCommunity(e, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m == Map(10L -> ((3L, 7L, 35L)), 40L -> ((3L, 7L, 35L))))
    // the trivial one-community partition has Q = 0 exactly
    val one = labels.select(col("vertex"), lit(0L).as("label"))
    val q0 = Graphs.modularityByCommunity(e, one).agg(sum("q_num")).first().getLong(0)
    assert(q0 == 0L)
  }

  test("densest subgraph: the peel isolates a planted clique from a path") {
    // K6 (deg 5, density 2.5) + an 11-vertex path (density ~0.9): round 1
    // strips the path (threshold 1.5·avg ≈ 4.4), leaving exactly the
    // clique as the round-2 candidate — the winner by exact cross-mult
    val k6 = for (a <- 1L to 6L; b <- 1L to 6L if a < b) yield a -> b
    val path = (10L until 20L).map(i => i -> (i + 1))
    val got = Graphs.densestSubgraph(edges((k6 ++ path): _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 6L).map(_ -> 5L).toMap)
    // a pure clique's best candidate is itself (round 1, before the
    // uniform peel empties it)
    val solo = Graphs.densestSubgraph(edges(k6: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(solo == (1L to 6L).map(_ -> 5L).toMap)
  }

  test("coreness: K4-plus-tail decomposes into core numbers 3 and 1") {
    // K4 on {1,2,3,4} with a path 4-5-6 hanging off: the clique is the
    // 3-core, the tail strips to coreness 1 (hand-iterated h-index:
    // degrees (3,3,3,4,2,1) -> one round reaches (3,3,3,3,1,1), stable)
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield a -> b
    val e = edges((k4 ++ Seq(4L -> 5L, 5L -> 6L)): _*)
    val got = Graphs.coreness(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
    // a pure cycle is its own 2-core everywhere
    val cyc = edges((1L to 5L).map(i => i -> (i % 5 + 1)): _*)
    val c = Graphs.coreness(cyc).collect().map(_.getLong(1)).toSet
    assert(c == Set(2L))
  }

  test("coreness: bucketed h-index ≡ rank-window twin (hub fixture)") {
    // star hub (0 — 5..40) + disjoint K4 + a 6-cycle: mixes a
    // high-degree hub (the case the bucketing exists for), a clique and
    // a cycle; the bucketed default and the didactic rank-window twin
    // must agree EXACTLY vertex-by-vertex
    val star = (5L to 40L).map(i => 0L -> i)
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield a -> b
    val cyc = (50L to 55L).map(i => i -> (if (i == 55L) 50L else i + 1))
    val e = edges((star ++ k4 ++ cyc): _*)
    val window = Graphs.corenessWindow(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Graphs.coreness(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == window)
    // and the values are the true core numbers: hub 1 (leaves strip),
    // K4 3, cycle 2
    assert(agg(0L) == 1L && agg(2L) == 3L && agg(50L) == 2L)
  }

  test("walks: forced path is followed; a seed on a sink stays a 1-row walk") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val seeds = Seq(1L, 4L).toDF("vertex")
    val out = Graphs.deterministicWalks(e, seeds, length = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // walk 1 runs the whole path and stops at sink 4 (steps 0..3, not 5);
    // walk 4 has nowhere to go after step 0
    assert(out == Set((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L), (1L, 3L, 4L),
      (4L, 0L, 4L)))
  }

  test("walks: branch choice replays the step hash, not the smallest neighbor") {
    // vertex 0 fans out to 1..8; hand-replay of the step hash
    // ((wid % P * 131 + step + dst) % P * 2654435761 % P): at step 2,
    // walk 7 minimizes at dst = 5 — NOT the smallest neighbor id, pinning
    // the non-monotonic mixing — while walk 9 minimizes at dst = 1, so
    // two walks crossing the same hub diverge
    val e = edges(((1L to 8L).map(0L -> _) ++ Seq(7L -> 0L, 9L -> 0L)): _*)
    val seeds = Seq(7L, 9L).toDF("vertex")
    val out = Graphs.deterministicWalks(e, seeds, length = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((7L, 0L, 7L), (7L, 1L, 0L), (7L, 2L, 5L),
      (9L, 0L, 9L), (9L, 1L, 0L), (9L, 2L, 1L)))
    // and the draw is partition-invariant (pure hash arithmetic + min-agg)
    val again = Graphs.deterministicWalks(e.repartition(7), seeds, length = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == out)
  }

  test("biased walks: weight triple steers return/common/explore; equal weights ≡ unbiased") {
    // prev=1, cur=2 offers all three categories: 1 is the return hop,
    // 3 the common neighbor (1→3 exists), 4 the explore hop; picks
    // verified against a driver replay of the priority arithmetic
    val e = edges(1L -> 2L, 2L -> 1L, 2L -> 3L, 2L -> 4L, 1L -> 3L)
    val seeds = Seq(1L).toDF("vertex")
    def hops(wr: Long, wc: Long, we: Long): Seq[Long] =
      Graphs.biasedWalks(e, seeds, length = 2, wr, wc, we).collect()
        .sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(hops(5, 5, 5) == Seq(1L, 2L, 3L))            // equal: pure hash
    assert(hops(1000000, 1, 1) == Seq(1L, 2L, 1L))       // return dominates
    assert(hops(1, 1, 1000000) == Seq(1L, 2L, 4L))       // explore dominates
    // equal weights degenerate exactly to the unbiased operator (the
    // q desc ≡ h asc identity) on a branchier graph
    val fan = edges(((1L to 8L).map(0L -> _) ++ Seq(7L -> 0L, 9L -> 0L)): _*)
    val fs = Seq(7L, 9L).toDF("vertex")
    val biased = Graphs.biasedWalks(fan, fs, 3, 3, 3, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Graphs.deterministicWalks(fan, fs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(biased == plain)
  }

  test("walk co-occurrence: window bounds pairs; revisits aggregate counts") {
    // forced path walk 1-2-3-4, window 2: each ordered pair within 2
    // steps appears exactly once
    val path = Graphs.deterministicWalks(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L), Seq(1L).toDF("vertex"), 5)
    val got = Graphs.walkCooccurrence(path, window = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.values.forall(_ == 1L) && got.size == 10)
    assert(got.contains((1L, 3L)) && !got.contains((1L, 4L))) // |Δstep|=3 cut
    // 2-cycle walk 1-2-1-2-1, window 1: the same ordered pair recurs and
    // the counts aggregate (4 adjacent steps, both directions each)
    val cyc = Graphs.deterministicWalks(
      edges(1L -> 2L, 2L -> 1L), Seq(1L).toDF("vertex"), 4)
    val c = Graphs.walkCooccurrence(cyc, window = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(c == Map((1L, 2L) -> 4L, (2L, 1L) -> 4L))
  }
}

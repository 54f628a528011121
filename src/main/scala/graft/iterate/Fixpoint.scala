package graft.iterate

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Driver-loop utilities for iterative (fixpoint) algorithms.
  *
  * The reference's iterative programs either let lineage grow unboundedly
  * (PageRankDataSet/src/main/scala/wc/FollowerCount.scala:63-73 rebinds
  * `ranks` to an ever-deeper plan) or sidestep it by round-tripping state
  * through HDFS between MR jobs (ShortestPathMR/src/main/java/wc/
  * CountFollowers.java:202-207). Here state stays in memory and its lineage
  * is cut with `localCheckpoint` every round — the single biggest perf trap
  * of driver-loop algorithms at scale (plan analysis time and task
  * serialization grow superlinearly otherwise).
  *
  * Every fixed-point loop enters through one call, [[iterate]], whose
  * `rows` argument sizes the loop's shuffle width and nothing else; the
  * loops with a read of their own (densest's peel, the BPE trainers) run
  * on [[unfold]] directly.
  *
  * The loop contract, kept by [[unfold]] for every driver loop: a round's
  * read is one barrier that scans every partition of the current state, and
  * so materializes the state's lazy checkpoint; the loop then releases what
  * that read superseded (the previous state and the leaves the step that
  * built the current one took), and builds the next state lazily or stops.
  *
  * Ownership: every cache and checkpoint Fixpoint takes has one owner.
  * While a [[scope]] is open, every materialization Fixpoint hands out —
  * [[materializedLeaf]], [[lazyLeaf]], [[columnarRows]], [[persisted]] and
  * a loop's final state — belongs to the innermost scope; a build that
  * pins its input ([[pinned]], [[srcPartitionedLeaf]]) is a scope of its
  * own. When the scope's body returns, what its result reads (plan,
  * subqueries, RDD lineage) passes to the enclosing scope and everything
  * else is released; a `Unit` body or a throw releases everything. Outside
  * any scope a materialization is the caller's.
  *
  * A cache whose buffers are fully loaded cuts lineage like a materialized
  * checkpoint: a MEMORY_AND_DISK cache recomputes from its inputs only if
  * a block is lost, the assumption every local checkpoint already makes.
  * So a result that reads its inputs only through a filled cache keeps the
  * cache, not the inputs.
  *
  * `Dataset.unpersist` only knows the cache manager: on a checkpoint it is
  * a no-op that leaves every block cached. Checkpoints go through
  * [[unpersistMaterialized]].
  */
object Fixpoint {

  /** rows per shuffle partition targeted while sizing the loop's shuffles */
  private val RowsPerPartition = 500000L

  /** partition count proportional to a measured cardinality, capped at the
    * session's configured shuffle width — poor-man's CBO stats for the
    * iterative operators */
  def sizedPartitions(spark: SparkSession, rows: Long): Int = {
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(configured, rows / RowsPerPartition + 1)).toInt
  }

  /** Zero-job STATS re-bind for an already-materialized relation: a
    * localCheckpoint cuts the RDD lineage but Spark snapshots the
    * originating plan's size estimate onto the new LogicalRDD, so a loop
    * whose step joins the state against derivations of itself compounds
    * the estimate multiplicatively across rounds — doubly-exponential bit
    * growth that overflows Catalyst's BigInteger size product after ~60
    * rounds (observed: Bpe.train at a 64-merge vocabulary; the coloring
    * loop hit the milder planning-latency face of the same hazard).
    * Wrapping the checkpointed RDD in a fresh DataFrame resets the
    * estimate to the scan default while rows keep streaming from the
    * existing checkpoint blocks — no job, no recompute. */
  def rebindStats(df: DataFrame): DataFrame = rebindStats(df, df.sparkSession)

  /** [[rebindStats]] under session `to`: the same zero-job re-bind, and the
    * one way a relation moves into a loop session — a Dataset executes under
    * its root's session, so the rebound relation plans with `to`'s conf. */
  def rebindStats(df: DataFrame, to: SparkSession): DataFrame =
    to.createDataFrame(df.rdd, df.schema)

  /** Materialize a loop-invariant relation ONCE and return it as a single
    * LogicalRDD leaf, so a driver loop's step DAG stays small: a persisted
    * DataFrame keeps its full derivation subtree in every consuming plan —
    * re-analyzed, re-optimized and cache-canonicalized on every round of a
    * driver loop — while the eager localCheckpoint's return value IS a
    * leaf: rows stream from the checkpoint blocks and the per-round
    * Catalyst walk sees one node. The physical partitioning/ordering of
    * the materialized plan is preserved on the LogicalRDD, so co-partition
    * contracts (src-hash edge caches) survive. */
  def materializedLeaf(df: DataFrame): DataFrame =
    own(df.localCheckpoint(eager = true), cache = false)

  /** A lazy checkpoint: the first job that scans every partition of it
    * caches its blocks, so a relation whose first consumer is such a scan
    * pays no job of its own. Released like a leaf; every loop state is one. */
  def lazyLeaf(df: DataFrame): DataFrame = own(df.localCheckpoint(eager = false), cache = false)

  /** The eager columnar cache: [[persisted]] plus a count, and that row
    * count. Chosen over a leaf for a relation a loop scans every round,
    * where the in-memory columnar cache's vectorized scan beats row-block
    * iteration; and the pin of a build that reads its input more than
    * once, which the count fills so the consumers read the cache instead
    * of racing to compute it. */
  def columnarRows(df: DataFrame): (DataFrame, Long) = {
    val c = persisted(df)
    (c, c.count())
  }

  /** A lazy MEMORY_AND_DISK persist: its first consumer fills it, so a
    * relation whose first use is already a full scan pays no job of its
    * own. */
  def persisted(df: DataFrame): DataFrame =
    own(df.persist(StorageLevel.MEMORY_AND_DISK), cache = true)

  /** One eager result built from a pin of `input`: `f(pin, rows)`, kept as
    * a [[materializedLeaf]]. The pin and whatever `f` takes belong to the
    * build's own scope, which keeps only the leaf. */
  def pinned(input: DataFrame)(f: (DataFrame, Long) => DataFrame): DataFrame = scope {
    val (pin, n) = columnarRows(input)
    materializedLeaf(f(pin, n))
  }

  /** The src-partitioned edge cache of a driver loop, as one
    * [[materializedLeaf]], and its row count: the `edges` derivation is
    * pinned for the sizing count (so the repartition reads the pin instead
    * of re-running the derivation), hash-partitioned by `src` to the width
    * the count warrants and materialized as a leaf. The loop re-scans the
    * leaf every round, and each round's Catalyst walk sees one node
    * instead of the derivation subtree. */
  def srcPartitionedLeaf(edges: DataFrame): (DataFrame, Long) = scope {
    val (pin, n) = columnarRows(edges)
    (materializedLeaf(pin.repartition(sizedPartitions(edges.sparkSession, n), col("src"))), n)
  }

  /** Runs `body` as an ownership scope (see the object doc): returns its
    * result, hands what the result reads to the enclosing scope and
    * releases every other materialization taken while `body` ran, the
    * latest first. */
  def scope[T](body: => T): T = {
    val (result, owned) = collecting(body)
    settle(owned, result)
    result
  }

  /** runs `body` as the innermost scope and returns what it took; a throw
    * releases it all */
  private def collecting[T](body: => T): (T, Seq[Owned]) = {
    val outer = scopes.get
    val owned = mutable.ListBuffer.empty[Owned]
    scopes.set(owned)
    try (body, owned.toList)
    catch { case t: Throwable => owned.reverseIterator.foreach(_.release()); throw t }
    finally scopes.set(outer)
  }

  /** hands what `result` reads to the enclosing scope and releases the
    * rest of `owned`, the latest first (dependents first) */
  private def settle(owned: Seq[Owned], result: Any): Unit = if (owned.nonEmpty) {
    val read = reads(result)
    val (kept, dropped) = owned.partition(_.keys.exists(read))
    dropped.reverseIterator.foreach(_.release())
    Option(scopes.get).foreach(_ ++= kept)
  }

  /** the innermost open scope's materializations on this thread; null
    * outside any scope. Not inherited: a thread Spark starts inside a scope
    * must not pin that scope's relations for its lifetime. */
  private val scopes = new ThreadLocal[mutable.ListBuffer[Owned]]

  private def own(df: DataFrame, cache: Boolean): DataFrame = {
    Option(scopes.get).foreach(_ += Owned(df, cache))
    df
  }

  /** A scope's materialization: a cache-manager entry or a checkpoint. The
    * kind is recorded, not read off the plan: a persisted leaf's plan root
    * is the leaf's LogicalRDD. */
  private final case class Owned(df: DataFrame, cache: Boolean) {
    def release(): Unit =
      if (cache) df.unpersist(false) else unpersistMaterialized(df)

    /** what a reader reaches it by: a cache's builder and, once built, its
      * RDD id; a checkpoint's RDD id */
    def keys: Seq[Any] =
      if (cache) df.sparkSession.sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).toSeq
        .flatMap { c => val b = c.cachedRepresentation.cacheBuilder
          b +: (if (b.isCachedColumnBuffersLoaded) Seq(b.cachedColumnBuffers.id) else Nil) }
      else df.queryExecution.analyzed match {
        case lr: LogicalRDD => Seq(lr.rdd.id)
        case _ => Nil
      }
  }

  /** every key `result` reads: the cache builders and RDD ids reached from
    * its DataFrames' plans and subqueries, through RDD lineage (a re-bind,
    * a lazy checkpoint) and through the plans of caches not yet filled; a
    * filled cache is a lineage cut, read by its buffers' RDD id alone */
  private def reads(result: Any): Set[Any] = {
    val seen = mutable.Set.empty[Any]
    val rdds = mutable.Stack.empty[RDD[_]]
    def cached(m: InMemoryRelation): Unit = if (seen.add(m.cacheBuilder)) {
      val b = m.cacheBuilder
      if (b.isCachedColumnBuffersLoaded) seen += b.cachedColumnBuffers.id else plan(b.logicalPlan)
    }
    def plan(p: QueryPlan[_]): Unit = p.foreachWithSubqueries {
      case lr: LogicalRDD => rdds.push(lr.rdd)
      case m: InMemoryRelation => cached(m)
      case _ =>
    }
    def visit(x: Any): Unit = x match {
      case df: Dataset[_] => plan(df.queryExecution.withCachedData)
      case xs: Iterable[_] => xs.foreach(visit)
      case p: Product => p.productIterator.foreach(visit)
      case _ =>
    }
    visit(result)
    while (rdds.nonEmpty) {
      val r = rdds.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => rdds.push(d.rdd))
    }
    seen.toSet
  }

  /** Unpersist a relation materialized by a checkpoint (leaf, loop state:
    * checkpoint blocks) OR by persist() (cache manager) —
    * resolves whichever backs it; a released relation is left alone.
    * The LogicalRDD match is ROOT-ONLY deliberately: a persisted relation's
    * lineage may CONTAIN someone else's still-live checkpoint leaf (cc_inc's
    * `touched` feeds the quotient edges), and a tree-wide collectFirst would
    * unpersist that input's blocks (a later read then fails with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). */
  def unpersistMaterialized(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => if (lr.rdd.getStorageLevel != StorageLevel.NONE) lr.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }

  /** The driver-loop core (the loop contract in the object doc). From
    * `seed`, round i runs `read(state, i)`, one barrier that materializes
    * `state`; then it releases the generation `state` superseded and the
    * leaves taken by the step that built it, and runs `next(state, r, i)`,
    * which builds the next state lazily or stops with `None`. Every built
    * state is a [[lazyLeaf]] taken in the enclosing scope, which so owns the
    * final one; what `read` takes belongs to that scope too, and what `next`
    * takes is released with the generation it built. After `maxRounds`
    * reads the loop stops; a last state built but not read keeps what it
    * reads. The core never re-binds: each state plans under the session of
    * the relation `next` returns. */
  def unfold[R](seed: DataFrame, maxRounds: Int)(read: (DataFrame, Int) => R)(
      next: (DataFrame, R, Int) => Option[DataFrame]): DataFrame = {
    var state = seed
    var held = Seq.empty[Owned] // what the read of `state` supersedes
    var i = 0
    var more = true
    while (more && i < maxRounds) {
      val r = read(state, i)
      held.reverseIterator.foreach(_.release())
      val (built, took) = collecting(next(state, r, i))
      held = took
      built.foreach { n =>
        held = Owned(state, cache = false) +: took
        state = lazyLeaf(n)
      }
      more = built.isDefined
      i += 1
    }
    settle(held, state)
    state
  }

  /** The one entry point of a fixed-point driver loop: iterate `step` from
    * `init` until `maxIter` rounds or `converged(state)`, on [[unfold]].
    *
    * `rows` is what the caller knows of the state's size: an exact count it
    * already holds, or an upper bound (an edge cache's row count bounds its
    * vertices). It sizes the loop session's shuffle width and nothing else,
    * never correctness; an over-estimate costs width overshoot, capped at
    * the session's configured width. The loop runs no count of its own.
    *
    * CALLER CONTRACT: `init` reads only materialized relations the caller
    * holds until round 1's read, since the seed has no cache of its own.
    * It may hold an exchange: the re-bind takes the seed's RDD once, so the
    * exchange runs once however often round 1's step reads the state. Under
    * adaptive execution that exchange runs as a job of its own at the
    * re-bind, so only a seed with no exchange (CC's over the src-partitioned
    * edge cache) reaches round 1 with no job. A seed that reads an
    * unmaterialized derivation is materialized at the call site
    * ([[columnarRows]] also yields its `rows`).
    *
    * The seed is re-bound to the loop session for `rows`: rows stream out of
    * its materialized inputs, and the lazy checkpoint makes the switch a
    * one-time state-sized copy that round 1's job computes. The read of
    * every built state is `converged` plus a guard: the convergence
    * aggregates (noneMatch, monotoneSumUnchanged, countUnchanged) scan every
    * row, so their one job computes the round and marks its checkpoint, and
    * the guard runs no job; a test that scans nothing (the fixed-round
    * default) leaves the checkpoint unmarked, and the guard's count is the
    * one job the round needs. */
  def iterate(
      init: DataFrame,
      rows: Long,
      maxIter: Int,
      converged: DataFrame => Boolean = _ => false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val bound = lazyLeaf(rebindStats(init, loopSession(init.sparkSession, rows)))
    unfold(bound, maxIter + 1) { (state, i) =>
      i > 0 && {
        val done = converged(state)
        state.queryExecution.analyzed match {
          case lr: LogicalRDD => if (!lr.rdd.isCheckpointed) lr.rdd.count()
          case _ => state.count()
        }
        done
      }
    } { (state, done, i) => if (done || i == maxIter) None else Some(step(state, i)) }
  }

  /** The loop session for a state of `rows` rows: one shared session per
    * shuffle width, whose conf is set when it is created and never mutated
    * afterwards.
    *
    * The width is sized to the state, not the caller's default: a fixpoint
    * over a bounded vertex set should not pay hundreds of near-empty tasks
    * per round (the dominant cost of small iterative jobs), while a
    * billion-row state keeps the configured width. The session comes from
    * newSession(): it shares the SparkContext, cache manager and catalog
    * but owns its SQLConf, so the caller's session never inherits the
    * loop's knobs. newSession() starts from the context's conf, not the
    * caller's runtime conf, so the width alone determines the loop conf and
    * every caller of that width can share the session — which is what lets
    * warm loops hit Spark's codegen cache, keyed by the class loader a
    * session's tasks run under. Every step function returns a plan rooted at the loop-bound
    * state, so each round plans and executes under the loop conf. */
  private[graft] def loopSession(orig: SparkSession, rows: Long): SparkSession = synchronized {
    val width = sizedPartitions(orig, rows)
    val sc = orig.sparkContext
    // one live SparkContext per JVM: a single slot, rebuilt when the
    // context changes, so a replaced context's sessions are dropped
    val byWidth = if (loopSessions._1 eq sc) loopSessions._2 else Map.empty[Int, SparkSession]
    byWidth.getOrElse(width, {
      val loop = newLoopSession(orig, width)
      loopSessions = (sc, byWidth + (width -> loop))
      loop
    })
  }

  /** the loop sessions by width, for the SparkContext they were cloned on */
  private var loopSessions: (SparkContext, Map[Int, SparkSession]) = (null, Map.empty)

  private def newLoopSession(orig: SparkSession, width: Int): SparkSession = {
    val loop = orig.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", width.toString)
    // AQE's per-stage replanning is pure driver latency once the state is
    // small and plans are stable; keep it for wide states (skew joins).
    if (width <= 4) {
      loop.conf.set("spark.sql.adaptive.enabled", "false")
      // Tiny-state regime: with the whole state in a handful of
      // partitions, every automatic BroadcastHashJoin costs a
      // broadcast-exchange SUB-JOB (collect + build + torrent) per join per
      // round, pure scheduling latency. Forcing shuffle joins
      // keeps each round ONE job of back-to-back tiny stages. Wide states
      // (real scale) keep the default so a genuinely small side (late
      // SSSP frontiers) still broadcasts instead of reshuffling the big
      // edge cache every round.
      loop.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
    // Constraint propagation re-derives and transitively closes filter/join
    // constraints on every round's re-planned step DAG — superlinear in
    // predicate count and the dominant Catalyst cost for the join-heavy
    // steps (ktruss' 3x3-way join round). The loop's join keys are
    // engine-generated ids that are never null, so the inferred IsNotNull/
    // transitive predicates buy nothing at any scale, while the per-round
    // driver latency they cost is scale-independent.
    loop.conf.set("spark.sql.constraintPropagation.enabled", "false")
    loop
  }

  /** Convergence for frontier-flag loops (`changed`/`status` columns):
    * true when NO row satisfies `flag`. A full-scan aggregate rather than
    * `filter(flag).isEmpty` — take(1) short-circuits and leaves the lazy
    * checkpoint partially materialized (costing the fill-in job the
    * fusion exists to remove), while the count scans every row in the
    * SAME job that materializes the round's checkpoint. */
  def noneMatch(flag: org.apache.spark.sql.Column): DataFrame => Boolean = { next =>
    import org.apache.spark.sql.functions.{count, when, lit}
    next.agg(count(when(flag, lit(1)))).first().getLong(0) == 0L
  }

  /** Convergence for monotonically non-increasing integer state (min-label
    * propagation): per-row values only ever decrease over a constant key
    * set, so equality of consecutive exact column sums implies no row
    * changed. One single-stage aggregation per round on the cached state —
    * no diff join of consecutive states (a shuffle join per round).
    * DECIMAL(38,0) keeps the sum exact at any vertex count. */
  def monotoneSumUnchanged(valCol: String): DataFrame => Boolean = {
    import org.apache.spark.sql.functions.sum
    var prev: Option[java.math.BigDecimal] = None
    next => {
      // empty state sums to NULL — normalize to 0 so an empty fixpoint
      // (e.g. CC over a pairless graph) converges instead of NPEing
      val s = Option(
        next.agg(sum(col(valCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .first().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      val same = prev.exists(_.compareTo(s) == 0)
      prev = Some(s)
      same
    }
  }

  /** Convergence for deletion-only processes (k-core peeling): the state
    * only ever loses rows, so equal consecutive counts imply a fixpoint.
    * One count job per round on the already-materialized state. */
  def countUnchanged(): DataFrame => Boolean = {
    var prev = -1L
    next => {
      val n = next.count()
      val same = n == prev
      prev = n
      same
    }
  }
}

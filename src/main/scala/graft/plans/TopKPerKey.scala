package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-k rows per key as a FIRST-CLASS physical operator — the whole-
  * operator extension path ((c) in the build guide): a custom logical
  * node, a planner `SparkStrategy` injected via SparkSessionExtensions,
  * and a two-phase `SparkPlan`.
  *
  * Why not `row_number() OVER (PARTITION BY key ORDER BY ord)`: the
  * window formulation SORTS every key's full row set (O(n log n) and a
  * full-width shuffle of all n rows) just to discard everything past
  * rank k. This operator keeps a bounded heap per key — O(n log k)
  * comparisons, no sort anywhere in the plan — and runs twice around the
  * key exchange: the partial pass caps every partition's contribution at
  * k rows per key, so the shuffle moves at most k·|keys| rows per
  * upstream partition regardless of skew (the hot key that breaks the
  * window sort is exactly the case the partial pass flattens). Same
  * partial/final shape as Spark's own HashAggregate.
  *
  * Determinism contract: callers supply a TOTAL order (unique tiebreak
  * column last) — the same requirement every oracle query in this repo
  * already meets. Rows are emitted heap-ordered (arbitrary); order the
  * result downstream if presentation order matters.
  *
  * Regime (measured at sf0.1): wins when groups are LARGE or skewed —
  * many rows discarded per key, hot keys capped map-side. For tiny
  * groups (per-document vocabularies: Corpus.tfidf) the window sort is
  * ~2x faster — each group sort is trivial and this operator pays an
  * extra exchange plus a non-codegen pass. Pick by n/k per group.
  *
  * Codegen boundary: the exec runs between two whole-stage-codegen spans
  * (scan-project below, the exchange/sort machinery around it). Measured
  * (BASELINE.md round 7, stacked identity InternalRow layers on the
  * bench input): one extra iterator boundary costs under timer noise at
  * the 150k-row bench shape and ~0.3 ms at 15 million rows — two
  * boundaries are ~0.2% of the operator's 0.28 s bench time, so a
  * CodegenSupport implementation has nothing to win here; the exchange
  * dominates. Re-measure before believing otherwise.
  *
  * Memory contract: each pass holds O(k x distinct-keys-per-partition)
  * copied rows on-heap with NO spill path (the window formulation it
  * replaces spills through external sort). The final pass is bounded by
  * k x |keys|/numPartitions after the key exchange; the partial pass by
  * k x distinct keys seen per upstream partition. When key cardinality
  * per partition is huge and groups are near size k (nothing gets
  * discarded), this operator buffers ~the whole partition — use the
  * row_number window instead in that regime; it is also the faster one
  * there (see regime note above).
  */
object TopKPerKey {

  /** @param order (column, ascending) pairs; must be a total order */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val analyzed = df.queryExecution.analyzed
    val byName = analyzed.output.map(a => a.name -> a).toMap
    def attr(n: String): Attribute =
      byName.getOrElse(n, sys.error(s"TopKPerKey: no column '$n' in ${byName.keys}"))
    val sortOrders = order.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending) }
    // sessions built with GraftExtensions already carry the strategy; for
    // any other live session, register idempotently through the public
    // experimental hook (additive and inert for unrelated queries).
    // Idempotence is checked against the planner's FULL strategy list, not
    // just extraStrategies — a session built with GraftExtensions carries
    // the strategy via injectPlannerStrategy (extraPlanningStrategies),
    // which extraStrategies alone cannot see, and double registration
    // makes the planner enumerate duplicate candidate plans.
    val session = df.sparkSession
    if (!session.sessionState.planner.strategies.contains(TopKPerKeyStrategy))
      session.experimental.extraStrategies =
        session.experimental.extraStrategies :+ TopKPerKeyStrategy
    val node = TopKPerKeyNode(keys.map(attr), sortOrders, k, analyzed)
    org.apache.spark.sql.classic.GraftBridge.ofRows(session, node)
  }
}

/** Logical placeholder: output/attributes pass through; the strategy
  * below plans it. Built only from resolved child attributes, so it never
  * needs analyzer support. */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: partial (partition-local) pass under the exchange,
  * final pass above it. EnsureRequirements inserts the key exchange from
  * the final node's required distribution. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per key over one partition. The heap holds the
  * current best k rows with the WORST kept row at the head (reversed
  * ordering), so the keep/evict test against the k-th row is O(1) and an
  * accepted row costs O(log k). */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(keys))
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, output)
      val ord = GenerateOrdering.generate(order, output)
      val worstFirst = ord.reverse
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](k + 1, worstFirst)
          heaps.put(key.copy(), heap) // iterator reuses the projection buffer
        }
        if (heap.size < k) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
}

package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** 1-D k-means (Lloyd's) over a numeric column, matching the reference MR
  * implementation's semantics (K-means/src/main/java/wc/CountFollowers.java):
  *
  *  - nearest-centroid assignment by |x - c| argmin, first-min tie-break
  *    (K-means/...:93-111, distance at :272-274);
  *  - centroid update = arithmetic mean of assigned points (:115-131);
  *  - SSE tracked per iteration (:133-141);
  *  - stop on centroid fixpoint or max iterations (:177-198).
  *
  * Scale design: centroids live in a literal array column (broadcast by
  * value — k is small), assignment is a per-row O(k) codegen'd expression,
  * and the update is one partial-aggregated groupBy of k groups; only k
  * rows ever reach the driver per iteration. No per-iteration file
  * round-trip (the reference writes centroids to HDFS between jobs,
  * K-means/...:249-296).
  */
object KMeans {

  final case class Result(centroids: Seq[Double], sse: Seq[Double], assignments: DataFrame)

  /** Assign each row to the nearest centroid. Ties go to the lowest
    * centroid index (array_position finds the first minimum). */
  def assign(points: DataFrame, valueCol: String, centroids: Seq[Double]): DataFrame = {
    val cArr = array(centroids.map(lit): _*)
    points.withColumn("__dists", transform(cArr, c => abs(col(valueCol) - c)))
      .withColumn("cluster", array_position(col("__dists"), array_min(col("__dists"))).cast("int") - 1)
      .drop("__dists")
  }

  /** Run until centroids repeat or maxIter; `fixedIter` forces exactly that
    * many update steps (used for oracle parity, where the SQL unrolls a
    * fixed iteration count). */
  def run(points: DataFrame, valueCol: String, init: Seq[Double], maxIter: Int = 10,
          fixedIter: Boolean = false): Result = {
    val x = points.select(col(valueCol).cast("double").as("x"))
    // the cache serves the loop only: the returned assignment re-derives x
    val (centroids, sse) = Fixpoint.scope {
      val pts = Fixpoint.columnar(x)
      var centroids = init
      var sse = Vector.empty[Double]
      var iter = 0
      var convergedAt = -1
      while (iter < maxIter && convergedAt < 0) {
        val assigned = assign(pts, "x", centroids)
        // mean via exact integral-friendly sum/count; empty cluster keeps its centroid
        val stats = assigned.groupBy("cluster")
          .agg(sum("x").as("s"), count(lit(1)).as("n"), sum(col("x") * col("x")).as("ss"))
          .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
        val next = centroids.indices.map { i =>
          stats.get(i).map { case (s, n, _) => s / n }.getOrElse(centroids(i))
        }
        val iterSse = stats.map { case (i, (s, n, ss)) => ss - 2 * next(i) * s + n * next(i) * next(i) }.sum
        sse :+= iterSse
        if (next == centroids && !fixedIter) convergedAt = iter
        centroids = next
        iter += 1
      }
      (centroids, sse)
    }
    Result(centroids, sse, assign(x, "x", centroids))
  }
}

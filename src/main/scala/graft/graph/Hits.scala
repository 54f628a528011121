package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.iterate.Fixpoint

/** HITS (hubs & authorities) — Kleinberg's link-analysis pair to PageRank.
  * The reference stops at PageRank (PageRankRDD/src/main/scala/wc/
  * FollowerCount.scala:53-70); HITS is the natural next operator a
  * link-analysis user asks for, and it exercises the transpose-direction
  * push (auth pulls over in-edges, hub pulls over out-edges) that PageRank
  * never needs.
  *
  * Per iteration (matching the unrolled-CTE oracle step for step):
  * auth_raw(v) = Σ_{(u,v)∈E} hub(u), L1-normalized; then
  * hub_raw(u) = Σ_{(u,v)∈E} auth(v) over the ALREADY-normalized auth,
  * L1-normalized. L1 (sum) normalization instead of the textbook L2 keeps
  * the per-element division the only float op outside the sums; scores are
  * rounded to 9 decimals on both sides at output (multi-element double
  * sums — the PageRank determinism policy).
  *
  * Scale design: edges repartitioned by src and cached once; each
  * iteration is two state-sized shuffles (one per direction) and two
  * 1-row broadcast normalizers — no driver-side state, no collect.
  */
object Hits {

  /** @param edges (src LONG, dst LONG)
    * @return (vertex LONG, hub DOUBLE, auth DOUBLE), L1-normalized */
  def run(edges: DataFrame, iterations: Int): DataFrame = Fixpoint.scope {
    val (e, n) = PageRank.srcPartitioned(edges)
    val init = Graphs.vertices(e)
      .select(col("vertex"), lit(1.0).as("hub"), lit(1.0).as("auth"))

    // n edges touch at most 2n vertices
    val result = Fixpoint.iterate(init, 2 * n, iterations) { (state, _) =>
      // every round's state holds every vertex: rooted at it, the round
      // plans and runs under the loop session (a Dataset executes under
      // its root's session), never the caller's
      val verts = state.select("vertex")
      // auth pull: every edge ships hub(src) to dst
      val authRaw = e.join(state.select(col("vertex"), col("hub")),
          e("src") === col("vertex"))
        .select(col("dst").as("vertex"), col("hub").as("x"))
        .groupBy("vertex").agg(sum("x").as("araw"))
      val a1 = verts.join(authRaw, Seq("vertex"), "left_outer")
        .select(col("vertex"), coalesce(col("araw"), lit(0.0)).as("araw"))
      val aNorm = a1.agg(sum("araw").as("as_"))
      val auth = a1.crossJoin(broadcast(aNorm))
        .select(col("vertex"), (col("araw") / col("as_")).as("auth"))
      // hub pull over the normalized auth: every edge ships auth(dst) to src
      val hubRaw = e.join(auth.select(col("vertex").as("av"), col("auth")),
          e("dst") === col("av"))
        .select(col("src").as("vertex"), col("auth").as("x"))
        .groupBy("vertex").agg(sum("x").as("hraw"))
      val h1 = verts.join(hubRaw, Seq("vertex"), "left_outer")
        .select(col("vertex"), coalesce(col("hraw"), lit(0.0)).as("hraw"))
      val hNorm = h1.agg(sum("hraw").as("hs"))
      h1.crossJoin(broadcast(hNorm))
        .select(col("vertex"), (col("hraw") / col("hs")).as("hub"))
        .join(auth, Seq("vertex"))
    }
    result.select("vertex", "hub", "auth")
  }
}

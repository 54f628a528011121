package graft

import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

/** Bench's verdict rule on fixed per-query values: the canary index, the
  * pin verdicts and the total (no Spark). */
class BenchSpec extends AnyFunSuite {
  import Bench.verdict

  // the canaries of BENCH_HISTORY.jsonl line 60: ratios 0.625, 0.645, 0.88,
  // 0.916, 1.016 to their refs
  val canaries = Seq("q_join_inner" -> 0.355, "q_topk" -> 0.132, "q_heavy_hitters" -> 0.406,
    "q_topk_per_key" -> 0.437, "q_tpch_q17" -> 0.568)

  test("the canary index is the median ratio: the middle of an odd count, the upper middle of an even one") {
    assert(verdict(canaries).ctx.get === 0.88 +- 1e-9)
    // without q_topk: 0.625, 0.645, 0.916, 1.016
    assert(verdict(canaries.filterNot(_._1 == "q_topk")).ctx.get === 0.568 / 0.62 +- 1e-9)
  }

  test("a ctx below 1 leaves the bands raw") {
    val slow = canaries.map { case (n, v) => n -> v / 2 }
    val v = verdict(slow ++ Seq("q_graph_cc" -> 2.4, "q_graph_scc" -> 7.1))
    assert(v.ctx.get < 1)
    assert(v.pinFails === Seq("q_graph_scc" -> 7.1))
  }

  test("a ctx above 1 widens every band by it") {
    val hot = canaries.map { case (n, v) => n -> v * 1.5 } // ctx 1.32
    val v = verdict(hot ++ Seq("q_graph_cc" -> 3.2, "q_graph_scc" -> 9.3))
    assert(v.pinFails === Seq("q_graph_scc" -> 9.3))
  }

  test("a failed query (-1) neither fails its pin, enters ctx nor counts in the total") {
    val v = verdict(canaries.updated(1, "q_topk" -> -1.0) ++ Seq("q_graph_cc" -> -1.0, "q_agg_sum" -> 1.0))
    // 0.625, 0.645, 0.916, 1.016
    assert(v.ctx.get === 0.568 / 0.62 +- 1e-9)
    assert(v.pinFails.isEmpty)
    assert(v.total === canaries.map(_._2).sum - 0.132 + 1.0 +- 1e-9)
  }

  test("a subset with no canary has no ctx, and its pins apply raw") {
    val v = verdict(Seq("q_graph_densest" -> 4.4, "q_graph_cc_inc" -> 7.5, "q_agg_sum" -> 0.5))
    assert(v.ctx.isEmpty)
    assert(v.pinFails === Seq("q_graph_densest" -> 4.4))
    assert(v.total === 12.4 +- 1e-9)
  }

  test("line 60: q_graph_coreness's own 6.769 fails its 6.5 band at ctx 0.88") {
    val v = verdict(canaries :+ ("q_graph_coreness" -> 6.769))
    assert(v.pinFails === Seq("q_graph_coreness" -> 6.769))
  }
}

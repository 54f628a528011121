package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.ops.{BloomSketch, CountMin, Hll, KmvSketch, MisraGries, QuantileSketch}
import graft.iterate.Fixpoint

/** Relational operator coverage (SURVEY §2.1–2.8) as named queries over the
  * driver testdata, each with a DuckDB oracle.
  *
  * Float-determinism policy (so Spark and DuckDB hash-match bit-for-bit):
  *  - sums of non-integral doubles go through DECIMAL(18,2) (exact,
  *    order-independent) and are cast back to DOUBLE at the end;
  *  - sums/averages of integral-valued doubles (l_quantity, counts) are
  *    exact in IEEE double regardless of partition order, so plain sum/avg
  *    is safe;
  *  - min/max/comparisons on doubles are always exact;
  *  - every query ends in a deterministic total ORDER BY (unique key);
  *  - DuckDB widens sum(BIGINT) to HUGEINT (plain and window form) while
  *    count/min/max stay BIGINT — every integer sum in oracle SQL must be
  *    wrapped in CAST(sum(...) AS BIGINT) or the driver's type-sensitive
  *    hash mismatches even when values agree (round-1 failure class).
  */
object RelQueries {
  type Q = (SparkSession, String) => DataFrame

  /** exact, order-independent sum of a money-like double column */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  // autocorrelation lag bound (engine banded self-join and oracle share it)
  private val AcfMaxLag = 7

  /** Shared probe/exact/report tail of the CMS faces: point-query
    * estimates for the k % 50 == 0 keys at each `grp` level, joined to
    * exact counts, with the never-underestimate law emitted as an in-band
    * boolean (TRUE by CMS construction — the hash match proves it held
    * for every probe). `allKeys` columns (grp, k), one row per key
    * OCCURRENCE, so exact counts derive from it directly. */
  /** Shared probe/report tail of the Bloom faces: membership tests for
    * the k % 50 == 0 PRESENT keys plus 40 keys ABSENT at any sf (fixed
    * literals far past the partkey domain), with the no-false-negative
    * law as an in-band boolean (present → hit, TRUE by construction —
    * bits are never cleared). False positives on the absent keys are
    * deterministic (fixed hashes, fixed data) and simply replayed. */
  private def bloomProbeFace(cells: DataFrame, allKeys: DataFrame): DataFrame = {
    val s = cells.sparkSession
    val present = allKeys.filter(col("k") % 50 === 0).distinct()
    // absent probes DERIVED from the data — strictly above max(k), so the
    // definite-reject path stays exercised at ANY scale factor (round-14
    // ADVICE: the old fixed literals 1e7+37i fall inside the partkey
    // domain once SF >= 50). The real invariant is that strictly-above-
    // max(k) keys are DISJOINT from the present set — a probe may well be
    // ≡ 0 mod 50 (max(k)+37·(i+1) hits the lattice for some i), and that
    // is fine: the %50 filter only selects which PRESENT keys are probed.
    // max+1480 stays far under the ~2.8e9 affine-hash overflow bound.
    val maxk = broadcast(allKeys.agg(max(col("k")).as("mk")))
    val absent = allKeys.select("grp").distinct().crossJoin(maxk)
      .crossJoin(s.range(40).toDF("i"))
      .select(col("grp"), (col("mk") + (col("i") + 1L) * 37L).as("k"))
    val truth = allKeys.distinct().withColumn("present", lit(true))
    BloomSketch.contains(cells, Seq("grp"), present.unionByName(absent))
      .join(truth, Seq("grp", "k"), "left")
      .select(col("grp"), col("k"), col("hit"),
        coalesce(col("present"), lit(false)).as("present"),
        (col("hit") || !coalesce(col("present"), lit(false))).as("no_false_neg"))
      .orderBy("grp", "k")
  }

  /** Shared report tail of the Misra–Gries faces: every RETAINED
    * (grp, k) counter joined to its exact count and the group total,
    * with the two-sided MG law as an in-band boolean — est never
    * overestimates, and underestimates by at most N/(K+1) (spelled
    * integrally, (exact−est)·(K+1) ≤ n, so the check is exact
    * cross-engine). `allKeys` columns (grp, k), one row per key
    * OCCURRENCE. The hash match proves the law held for every counter
    * the summary kept. */
  private def mgProbeFace(mg: DataFrame, allKeys: DataFrame): DataFrame = {
    val exact = allKeys.groupBy("grp", "k").agg(count(lit(1)).as("exact_cnt"))
    val tot = allKeys.groupBy("grp").agg(count(lit(1)).as("n"))
    mg.join(exact, Seq("grp", "k")).join(tot, Seq("grp"))
      .select(col("grp"), col("k"), col("est"), col("exact_cnt"), col("n"),
        (col("est") <= col("exact_cnt") &&
          (col("exact_cnt") - col("est")) * (MisraGries.K + 1) <= col("n"))
          .as("in_band"))
      .orderBy("grp", "k")
  }

  /** Shared report tail of the KMV faces: the distinct-count estimate
    * per grp joined to the exact distinct count, with the regime-split
    * law as an in-band boolean — an UNSATURATED sketch (n_kept < K) is
    * EXACT (the affine hash is a permutation of Z_P, so kept hashes
    * count distinct keys), a saturated one estimates within [0.5, 2]×
    * (13% σ at K = 64; measured 0.959–1.003 across the three sfs). The
    * hash match proves the law held for every group. */
  private def kmvProbeFace(sk: DataFrame, allKeys: DataFrame): DataFrame = {
    val exact = allKeys.groupBy("grp")
      .agg(count_distinct(col("k")).as("nd"))
    KmvSketch.estimate(sk, Seq("grp"))
      .join(exact, Seq("grp"))
      .select(col("grp"), col("n_kept"), col("est"), col("nd"),
        ((col("n_kept") < KmvSketch.K &&
            col("est") === col("nd").cast("double")) ||
          (col("n_kept") === KmvSketch.K &&
            col("est") >= lit(0.5) * col("nd") &&
            col("est") <= lit(2.0) * col("nd"))).as("in_band"))
      .orderBy("grp")
  }

  /** Deterministically skewed BIGINT key over lineitem — floor(sqrt)
    * ramps occurrence counts linearly in k (≈ 2k+1 partkeys collapse to
    * key k), so the top-K extraction is non-trivial at every sf. Same
    * text parses in Spark and DuckDB (shared by engine and oracle). */
  private val mgKey = "CAST(floor(sqrt(l_partkey)) AS BIGINT)"

  private def cmsProbeFace(cells: DataFrame, allKeys: DataFrame): DataFrame = {
    val probes = allKeys.filter(col("k") % 50 === 0).distinct()
    val exact = allKeys.groupBy("grp", "k").agg(count(lit(1)).as("exact_cnt"))
    CountMin.estimate(cells, Seq("grp"), probes)
      .join(exact, Seq("grp", "k"))
      .select(col("grp"), col("k"), col("est"), col("exact_cnt"),
        (col("est") >= col("exact_cnt")).as("no_underest"))
      .orderBy("grp", "k")
  }

  val defs: Map[String, Q] = Map(
    // ---- aggregations (SURVEY §2.4: A1-A5 grouped count) ----
    // the reference headline query: follower count == grouped count
    // (ReduceByKey/src/main/scala/wc/FollowersCount.scala:25-29)
    "q_agg_count" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_custkey")),

    // A9/A10 grouped sums (TPC-H Q1 shape) with exact decimal money sums
    "q_agg_sum" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A6-A8/A13 min/max
    "q_agg_minmax" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
        .orderBy("l_returnflag")),

    // A14 average (integral-valued column -> exact)
    "q_agg_avg" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_linestatus")
        .agg(avg("l_quantity").as("avg_qty"), count(lit(1)).as("n"))
        .orderBy("l_linestatus")),

    // A13: aggregation over aggregation output (reference needed Hadoop
    // counters for this — K-means/src/main/java/wc/CountFollowers.java:56-63)
    "q_agg_of_agg" -> ((s, d) => {
      val cnts = Tables.orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      cnts.agg(min("cnt").as("min_cnt"), max("cnt").as("max_cnt"),
        count(lit(1)).as("n_groups"), sum("cnt").as("total"))
    }),

    // A10 global (ungrouped) aggregate
    "q_agg_global" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        sum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"))),

    // A15 SSE per group, computed from exact integral moments:
    // sse = (n*Σx² − (Σx)²)/n  — one deterministic double division
    "q_agg_sse" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sx"),
          sum(col("l_quantity") * col("l_quantity")).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxx") - col("sx") * col("sx")) / col("n")).as("sse"))
        .orderBy("l_returnflag")),

    // A12 collect_list — canonicalized to a sorted comma-joined string so
    // the compare is order- and type-robust
    "q_agg_collect_list" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 500)
        .groupBy("l_orderkey")
        .agg(array_join(sort_array(collect_list(col("l_partkey"))), ",").as("parts"))
        .orderBy("l_orderkey")),

    // salted two-phase aggregation: identical result to q_agg_count, plan
    // spreads hot keys (ops.Skew) — the oracle equality IS the equivalence
    // proof
    "q_agg_count_salted" -> ((s, d) =>
      graft.ops.Skew.saltedCount(Tables.orders(s, d), "o_custkey")
        .withColumnRenamed("o_custkey", "k")
        .orderBy("k")),

    // distinct aggregation (absent in reference — §2.4 "not present";
    // library completeness)
    "q_agg_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // rollup (grouping-set family; absent in reference)
    "q_agg_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // exact interpolated percentiles (both engines use linear interpolation
    // at p*(n-1); integral inputs make the interpolated values exact)
    "q_agg_percentile" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.75)").as("q3"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // pivot: one column per l_linestatus value (fixed value list so the
    // output schema is static on both engines)
    "q_agg_pivot" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .sum("l_quantity")
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    // approximate distinct (engine-native HLL++), oracle-checked via a
    // CERTIFICATE: the sketch estimate itself is engine-specific (DuckDB
    // cannot reproduce Spark's HLL++ registers), so the compared output
    // carries the exact distinct count plus a boolean "estimate within the
    // 5% bound" — the oracle asserts TRUE, so the hash match PROVES the
    // bound held. Full sketch-value parity is covered by the deterministic
    // twins q_agg_hll / q_agg_hll_merge below.
    "q_agg_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey", 0.02).as("apx"),
          countDistinct("l_partkey").as("exact_parts"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          (abs(col("apx") - col("exact_parts")).cast("double") /
            col("exact_parts").cast("double") <= 0.05).as("apx_in_bound"),
          col("exact_parts"), col("n"))
        .orderBy("l_returnflag")),

    // deterministic HLL sketch, oracle-checked — the cross-engine-exact
    // counterpart of q_agg_approx_distinct. Own 64-bit affine hash (TextHash
    // constants, never engine-native hashing); m=64 registers; rho is the
    // trailing-zero count, kept as its power-of-two lowbit value (v & -v)
    // so 2^-rho stays a RATIONAL term: K/(2*lowbit) with K=2^25 is an exact
    // integer division (lowbit <= 2^24 divides K), the register sum is an
    // exact BIGINT, and the estimate alpha*m^2*K/sum is ONE IEEE division.
    // Empty registers contribute K each ((m - count) * K). No small-range
    // ln() correction — n >> 2.5m here, where raw HLL needs none; the
    // sketch shuffles 64 ints per group regardless of input size.
    "q_agg_hll" -> ((s, d) =>
      Hll.estimate(Hll.registers(Tables.lineitem(s, d),
          Seq("l_returnflag"), "l_partkey"), Seq("l_returnflag"))
        .orderBy("l_returnflag")),

    // Sketch MERGEABILITY: per-(flag, status) partial HLL register tables
    // merged across status by register-wise max — never re-scanning the
    // input — must equal the sketch built flat per flag, because max is
    // associative/commutative. The oracle computes the flat sketch
    // directly, so the hash equality IS the merge(sk(A), sk(B)) ==
    // sk(A ∪ B) proof — the property that lets 100 TB distinct-count
    // cubes roll up from per-partition sketches instead of raw keys.
    "q_agg_hll_merge" -> ((s, d) =>
      Hll.estimate(
        Hll.merge( // the merge
          Hll.registers(Tables.lineitem(s, d),
            Seq("l_returnflag", "l_linestatus"), "l_partkey"),
          Seq("l_returnflag")),
        Seq("l_returnflag"))
        .orderBy("l_returnflag")),

    // IVM face (completing the 4×{merge,cube,inc} sketch matrix): STORED
    // registers (even orderkeys) max-merged with the incoming batch's
    // delta registers (odd) — the base relation is never re-scanned, and
    // like Bloom's OR the max-fold is IDEMPOTENT, so replayed overlap
    // cannot corrupt the maintained registers. Oracle = the flat sketch.
    "q_agg_hll_inc" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val stored = Hll.registers(li.filter(col("l_orderkey") % 2 === 0),
        Seq("l_returnflag"), "l_partkey")
      val delta = Hll.registers(li.filter(col("l_orderkey") % 2 === 1),
        Seq("l_returnflag"), "l_partkey")
      Hll.estimate(Hll.merge(stored.unionByName(delta), Seq("l_returnflag")),
          Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // CUBE face of the HLL family (r13 — the quantile cube's twin, so
    // BOTH sketch families carry the multi-level rollup proof): the
    // per-(flag, status) register tables are built ONCE and max-merged
    // to per-flag AND the grand total; the oracle computes each level's
    // registers flat from the hashed relation, so the hash equality
    // proves register-max mergeability at both cube levels
    "q_agg_hll_cube" -> ((s, d) => {
      val regs = Fixpoint.materializedLeaf(Hll.registers(Tables.lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"), "l_partkey")
        .withColumnRenamed("l_returnflag", "grp")) // partials built once, rolled twice
      def level(partials: DataFrame): DataFrame =
        Hll.estimate(Hll.merge(partials, Seq("grp")), Seq("grp"))
      level(regs)
        .unionByName(level(regs.withColumn("grp", lit("ALL"))))
        .orderBy("grp")
    }),

    // Quantile-sketch MERGEABILITY (the r12 verdict's missing sketch
    // family member): per-(flag, status) HDR bucket histograms merged
    // across status by bucket-wise SUM — never re-scanning the input —
    // must yield the same quantile estimates as the sketch built flat per
    // flag, because addition is associative/commutative. The oracle
    // computes the FLAT histogram directly, so hash equality IS the
    // merge(sk(A), sk(B)) == sk(A ∪ B) proof — the property that lets a
    // 100 TB profiler roll p50/p99 cubes up from per-partition sketches
    // instead of re-ranking raw values. All bucket math is log-free
    // integer bit arithmetic; see ops/QuantileSketch.
    "q_agg_quantile_merge" -> ((s, d) => {
      val cents = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_linestatus"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      val parts = QuantileSketch.sketch(cents,
        Seq("l_returnflag", "l_linestatus"), "v")
      val merged = QuantileSketch.merge(parts, Seq("l_returnflag")) // the merge
      QuantileSketch.quantiles(merged, Seq("l_returnflag"), Seq(50, 90, 99))
        .orderBy("l_returnflag")
    }),

    // CUBE face of the same sketch: the per-(flag, status) partials are
    // built ONCE and rolled up to BOTH levels — per-flag and the grand
    // total — without touching the input again; the oracle computes every
    // level FLAT from the raw relation, so the hash equality proves the
    // rollup at each cube level simultaneously (the "roll p50/p99 cubes
    // from per-partition sketches" claim, literally)
    "q_agg_quantile_cube" -> ((s, d) => {
      val cents = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_linestatus"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      val parts = Fixpoint.materializedLeaf(QuantileSketch.sketch(cents,
          Seq("l_returnflag", "l_linestatus"), "v")) // built once, rolled twice
      val perFlag = QuantileSketch.quantiles(
        QuantileSketch.merge(parts.withColumnRenamed("l_returnflag", "grp"),
          Seq("grp")), Seq("grp"), Seq(50, 90, 99))
      val total = QuantileSketch.quantiles(
        QuantileSketch.merge(parts.select(lit("ALL").as("grp"), col("bkt"),
          col("cnt")), Seq("grp")), Seq("grp"), Seq(50, 90, 99))
      perFlag.unionByName(total).orderBy("grp")
    }),

    // IVM face of the same sketch: a STORED sketch (even orderkeys) plus
    // the incoming batch's delta sketch, merged — the incremental
    // maintenance contract (base relation never re-scanned) must equal
    // the flat sketch over everything, which is exactly what the oracle
    // computes. The stored histogram is the entire state: ≤ 53·16 ints
    // per group, whatever the base size.
    "q_agg_quantile_inc" -> ((s, d) => {
      val cents = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      val stored = QuantileSketch.sketch(
        cents.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), "v")
      val delta = QuantileSketch.sketch(
        cents.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), "v")
      val merged = QuantileSketch.merge(
        stored.unionByName(delta), Seq("l_returnflag"))
      QuantileSketch.quantiles(merged, Seq("l_returnflag"), Seq(50, 90, 99))
        .orderBy("l_returnflag")
    }),

    // Count-Min MERGEABILITY — the FREQUENCY member of the sketch family
    // (HLL: distinct counts, max-merge; quantile histogram: ranks,
    // sum-merge; CMS: point frequencies, sum-merge). The sketch is LINEAR,
    // so per-(flag, status) cell tables summed across status are
    // cell-for-cell EQUAL to the flat per-flag sketch — the oracle builds
    // the flat side and replays the same affine row hashes, so the hash
    // equality proves both the merge law and the never-underestimate law
    // (the in-band no_underest boolean, TRUE by CMS construction). Probes
    // are data-derived (k % 50 = 0 partkeys — present keys populate all
    // their cells, so the sparse form never reads an absent cell).
    "q_agg_cms_merge" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = CountMin.sketch(keys, Seq("grp", "l_linestatus"), "k")
      val cells = CountMin.merge(parts, Seq("grp")) // the merge
      cmsProbeFace(cells, keys.select("grp", "k"))
    }),

    // CUBE face of the CMS: per-(flag, status) partials built ONCE roll to
    // per-flag AND the grand total (the hll/quantile cube twins — all
    // three sketch families now carry the multi-level rollup proof); every
    // level oracle-checked FLAT from the raw key relation.
    "q_agg_cms_cube" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = Fixpoint.materializedLeaf( // partials built once, rolled twice
        CountMin.sketch(keys, Seq("grp", "l_linestatus"), "k"))
      val cells = CountMin.merge(parts, Seq("grp")).unionByName(
        CountMin.merge(parts.withColumn("grp", lit("ALL")), Seq("grp")))
      val lvls = keys.select("grp", "k")
        .unionByName(keys.select(lit("ALL").as("grp"), col("k")))
      cmsProbeFace(cells, lvls)
    }),

    // IVM face: a STORED sketch (even orderkeys) plus the incoming batch's
    // delta sketch, summed — the base relation is never re-scanned, and by
    // linearity the maintained cells are EXACTLY the flat sketch's (not an
    // approximation of them), which is what the oracle computes.
    "q_agg_cms_inc" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_orderkey"), col("l_partkey").cast("long").as("k"))
      val stored = CountMin.sketch(
        keys.filter(col("l_orderkey") % 2 === 0), Seq("grp"), "k")
      val delta = CountMin.sketch(
        keys.filter(col("l_orderkey") % 2 === 1), Seq("grp"), "k")
      val cells = CountMin.merge(stored.unionByName(delta), Seq("grp"))
      cmsProbeFace(cells, keys.select("grp", "k"))
    }),

    // Bloom MERGEABILITY — the MEMBERSHIP member of the sketch family.
    // bits(A ∪ B) = bits(A) ∪ bits(B), so per-(flag, status) bit sets
    // OR-merged across status are bit-for-bit the flat per-flag filter —
    // the oracle builds the flat side and replays the same affine row
    // hashes, proving both the merge law and no-false-negatives (the
    // in-band boolean). Probes mix present keys (k % 50 = 0) with 40
    // absent-at-any-sf keys, so the definite-reject path is exercised
    // and the (deterministic) false positives are replayed, not bounded.
    "q_agg_bloom_merge" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = BloomSketch.sketch(keys, Seq("grp", "l_linestatus"), "k")
      val cells = BloomSketch.merge(parts, Seq("grp")) // the OR-merge
      bloomProbeFace(cells, keys.select("grp", "k"))
    }),

    // CUBE face: per-(flag, status) bit sets built ONCE roll to per-flag
    // AND the grand total by union — all four sketch families now carry
    // the multi-level rollup proof; every level oracle-checked FLAT.
    "q_agg_bloom_cube" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = Fixpoint.materializedLeaf( // partials built once, rolled twice
        BloomSketch.sketch(keys, Seq("grp", "l_linestatus"), "k"))
      val cells = BloomSketch.merge(parts, Seq("grp")).unionByName(
        BloomSketch.merge(parts.withColumn("grp", lit("ALL")), Seq("grp")))
      val lvls = keys.select("grp", "k")
        .unionByName(keys.select(lit("ALL").as("grp"), col("k")))
      bloomProbeFace(cells, lvls)
    }),

    // IVM face: stored filter (even orderkeys) OR delta filter (odd),
    // never re-scanning the base — and because OR is IDEMPOTENT the
    // fold is replay-safe: re-merging an overlapping batch cannot
    // corrupt the bits (the property the linear CMS does NOT have, and
    // why Bloom state suits at-least-once streaming ingest).
    "q_agg_bloom_inc" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_orderkey"), col("l_partkey").cast("long").as("k"))
      val stored = BloomSketch.sketch(
        keys.filter(col("l_orderkey") % 2 === 0), Seq("grp"), "k")
      val delta = BloomSketch.sketch(
        keys.filter(col("l_orderkey") % 2 === 1), Seq("grp"), "k")
      val cells = BloomSketch.merge(stored.unionByName(delta), Seq("grp"))
      bloomProbeFace(cells, keys.select("grp", "k"))
    }),

    // Misra–Gries MERGEABILITY — the TOP-K member completing the sketch
    // family's fifth seat (HLL: distinct; quantile: ranks; CMS: point
    // frequency; Bloom: membership; MG: heavy hitters). Deterministic by
    // construction — no hash rows — so the oracle replays the summary
    // arithmetic EXACTLY (per-(flag, status) counts, (K+1)-th-largest
    // subtraction, counter-join merge, second subtraction) and the hash
    // match additionally proves the two-sided in-band law
    // (true − N/(K+1) ≤ est ≤ true) for every retained counter. The merge
    // is a SUM fold like quantile/CMS: exactly-once-dependent, NOT
    // replay-idempotent — the fold-algebra taxonomy's placement.
    "q_agg_mg_merge" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), expr(mgKey).as("k"))
      val parts = MisraGries.summary(keys, Seq("grp", "l_linestatus"), "k")
      val mg = MisraGries.merge(parts, Seq("grp")) // the counter-join merge
      mgProbeFace(mg, keys.select("grp", "k"))
    }),

    // CUBE face: per-(flag, status) summaries built ONCE roll to per-flag
    // AND the grand total — the fifth family member joins the multi-level
    // rollup proof the other four carry; the oracle replays both levels
    // from the same per-(flag, status) partials.
    "q_agg_mg_cube" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), expr(mgKey).as("k"))
      val parts = Fixpoint.materializedLeaf( // partials built once, rolled twice
        MisraGries.summary(keys, Seq("grp", "l_linestatus"), "k"))
      val mg = MisraGries.merge(parts, Seq("grp")).unionByName(
        MisraGries.merge(parts.withColumn("grp", lit("ALL")), Seq("grp")))
      val lvls = keys.select("grp", "k")
        .unionByName(keys.select(lit("ALL").as("grp"), col("k")))
      mgProbeFace(mg, lvls)
    }),

    // IVM face: stored summary (even orderkeys) + the incoming batch's
    // delta summary, counter-join-merged — the base relation is never
    // re-scanned, state is ≤ K counters per group forever, and the
    // N/(K+1) band holds for the union because Σd over every build and
    // merge is bounded by the UNION's mass (the PODS'12 argument).
    "q_agg_mg_inc" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_orderkey"), expr(mgKey).as("k"))
      val stored = MisraGries.summary(
        keys.filter(col("l_orderkey") % 2 === 0), Seq("grp"), "k")
      val delta = MisraGries.summary(
        keys.filter(col("l_orderkey") % 2 === 1), Seq("grp"), "k")
      val mg = MisraGries.merge(stored.unionByName(delta), Seq("grp"))
      mgProbeFace(mg, keys.select("grp", "k"))
    }),

    // KMV MERGEABILITY — the SET-OPERATION member completing the sketch
    // family's sixth seat (HLL: distinct; quantile: ranks; CMS: point
    // frequency; Bloom: membership; MG: heavy hitters; KMV: distinct +
    // cross-set overlap). The K-min law K-min(A∪B) = K-min(K-min(A) ∪
    // K-min(B)) is exact, so the per-(flag, status) partials MIN-merged
    // to per-flag are bit-for-bit the flat sketch the oracle replays —
    // and the estimate regime law (unsaturated ⇒ EXACT by the
    // permutation argument; saturated ⇒ in [0.5, 2]×) rides in-band.
    "q_agg_kmv_merge" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = KmvSketch.sketch(keys, Seq("grp", "l_linestatus"), "k")
      val sk = KmvSketch.merge(parts, Seq("grp")) // the MIN-merge
      kmvProbeFace(sk, keys.select("grp", "k"))
    }),

    // CUBE face: per-(flag, status) K-min samples built ONCE roll to
    // per-flag AND the grand total — the sixth family member joins the
    // multi-level rollup proof; both levels oracle-checked FLAT.
    "q_agg_kmv_cube" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_linestatus"), col("l_partkey").cast("long").as("k"))
      val parts = Fixpoint.materializedLeaf( // partials built once, rolled twice
        KmvSketch.sketch(keys, Seq("grp", "l_linestatus"), "k"))
      val sk = KmvSketch.merge(parts, Seq("grp")).unionByName(
        KmvSketch.merge(parts.withColumn("grp", lit("ALL")), Seq("grp")))
      val lvls = keys.select("grp", "k")
        .unionByName(keys.select(lit("ALL").as("grp"), col("k")))
      kmvProbeFace(sk, lvls)
    }),

    // IVM face: stored sample (even orderkeys) MIN-merged with the
    // incoming batch's delta — and because keep-K-smallest is IDEMPOTENT
    // the fold is replay-safe: the stored sketch is deliberately merged
    // TWICE here (stored ∪ stored ∪ delta), simulating an at-least-once
    // replay, and the oracle's FLAT sketch still hash-matches — the
    // Bloom/HLL replay-immunity property, which the linear CMS/quantile/
    // MG folds do NOT have (the fold-algebra taxonomy's placement).
    "q_agg_kmv_inc" -> ((s, d) => {
      val keys = Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
        col("l_orderkey"), col("l_partkey").cast("long").as("k"))
      val stored = KmvSketch.sketch(
        keys.filter(col("l_orderkey") % 2 === 0), Seq("grp"), "k")
      val delta = KmvSketch.sketch(
        keys.filter(col("l_orderkey") % 2 === 1), Seq("grp"), "k")
      val sk = KmvSketch.merge(
        stored.unionByName(stored).unionByName(delta), Seq("grp"))
      kmvProbeFace(sk, keys.select("grp", "k"))
    }),

    // ---- pure-SQL sketch surface (r13 verdict stretch item 9, the
    // q_sql_dedup pattern): each face composes a whole sketch pipeline —
    // partial build, merge, probe/estimate, law check — in ONE spark.sql
    // statement over the single-sourced ops constants, and shares the
    // corresponding Column-API face's DuckDB oracle verbatim. A SQL-only
    // user gets the same telemetry engine; the ops objects remain the
    // scale surface (e.g. the MG SQL spells the top-(K+1) cut as a rank
    // window — the didactic plan — where the Column API rides the
    // bounded-heap TopKPerKey operator). ----

    // CMS merge face in one statement: per-(flag, status) cells summed
    // to per-flag (bit-exact by linearity), probed at the k % 50 lattice
    "q_sql_cms" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
      val stack = (0 until CountMin.Depth)
        .map(i => s"$i, ${CountMin.cellExpr("k", i)}")
        .mkString(s"stack(${CountMin.Depth}, ", ", ", ") AS (r, c)")
      s.sql(
        s"""WITH keys AS (
           |  SELECT l_returnflag AS grp, l_linestatus, CAST(l_partkey AS BIGINT) AS k
           |  FROM graft_lineitem),
           |parts AS (
           |  SELECT grp, l_linestatus, r, c, count(1) AS cnt FROM (
           |    SELECT grp, l_linestatus, $stack FROM keys)
           |  GROUP BY grp, l_linestatus, r, c),
           |cells AS (SELECT grp, r, c, sum(cnt) AS cnt FROM parts GROUP BY grp, r, c),
           |probes AS (SELECT DISTINCT grp, k FROM keys WHERE k % 50 = 0),
           |pcells AS (SELECT grp, k, $stack FROM probes),
           |est AS (
           |  SELECT p.grp, p.k, min(t.cnt) AS est
           |  FROM pcells p JOIN cells t ON p.grp = t.grp AND p.r = t.r AND p.c = t.c
           |  GROUP BY p.grp, p.k),
           |exact AS (SELECT grp, k, count(1) AS exact_cnt FROM keys GROUP BY grp, k)
           |SELECT e.grp, e.k, e.est, x.exact_cnt, e.est >= x.exact_cnt AS no_underest
           |FROM est e JOIN exact x ON e.grp = x.grp AND e.k = x.k
           |ORDER BY e.grp, e.k""".stripMargin)
    }),

    // HLL flat face in one statement (register algebra from ops.Hll)
    "q_sql_hll" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
      s.sql(
        s"""WITH hashed AS (
           |  SELECT l_returnflag, ${Hll.hashSql("l_partkey")} AS h FROM graft_lineitem),
           |regs AS (
           |  SELECT l_returnflag, h % ${Hll.M} AS bkt,
           |    max(CASE WHEN h div ${Hll.M} = 0 THEN ${Hll.EmptyLow}
           |             ELSE (h div ${Hll.M}) & -(h div ${Hll.M}) END) AS mlow
           |  FROM hashed GROUP BY 1, 2)
           |SELECT l_returnflag,
           |  ${Hll.AlphaM2KSql} / CAST(CAST(sum(${Hll.K} div (2 * mlow)) AS BIGINT)
           |    + (${Hll.M} - count(1)) * ${Hll.K} AS DOUBLE) AS apx_parts
           |FROM regs GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin)
    }),

    // MG merge face in one statement (counts → (K+1)-th-largest cut →
    // counter-join merge → second cut → two-sided law)
    "q_sql_mg" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
      val k1 = MisraGries.K + 1
      s.sql(
        s"""WITH keys AS (
           |  SELECT l_returnflag AS grp, l_linestatus AS batch, $mgKey AS k
           |  FROM graft_lineitem),
           |cnts AS (SELECT grp, batch, k, count(1) AS cnt FROM keys GROUP BY grp, batch, k),
           |rk AS (SELECT grp, batch, k, cnt,
           |  row_number() OVER (PARTITION BY grp, batch ORDER BY cnt DESC, k) AS rn
           |  FROM cnts),
           |doff AS (SELECT grp, batch,
           |  coalesce(max(CASE WHEN rn = $k1 THEN cnt END), CAST(0 AS BIGINT)) AS d
           |  FROM rk GROUP BY grp, batch),
           |summ AS (SELECT r.grp, r.k, r.cnt - o.d AS est
           |  FROM rk r JOIN doff o ON r.grp = o.grp AND r.batch = o.batch
           |  WHERE r.cnt > o.d),
           |comb AS (SELECT grp, k, sum(est) AS cnt FROM summ GROUP BY grp, k),
           |rk2 AS (SELECT grp, k, cnt,
           |  row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, k) AS rn FROM comb),
           |doff2 AS (SELECT grp,
           |  coalesce(max(CASE WHEN rn = $k1 THEN cnt END), CAST(0 AS BIGINT)) AS d
           |  FROM rk2 GROUP BY grp),
           |mg AS (SELECT r.grp, r.k, r.cnt - o.d AS est
           |  FROM rk2 r JOIN doff2 o ON r.grp = o.grp WHERE r.cnt > o.d),
           |exact AS (SELECT grp, k, count(1) AS exact_cnt FROM keys GROUP BY grp, k),
           |tot AS (SELECT grp, count(1) AS n FROM keys GROUP BY grp)
           |SELECT m.grp, m.k, m.est, e.exact_cnt, t.n,
           |  (m.est <= e.exact_cnt AND (e.exact_cnt - m.est) * $k1 <= t.n) AS in_band
           |FROM mg m JOIN exact e ON m.grp = e.grp AND m.k = e.k
           |JOIN tot t ON m.grp = t.grp
           |ORDER BY m.grp, m.k""".stripMargin)
    }),

    // ---- filters / projections (SURVEY §2.2) ----
    // P5/P6 range predicates + column pruning
    "q_filter_range" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_partkey") <= 1000 && col("l_suppkey") <= 50 && col("l_quantity") > 10)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // P4/F9 conditional projection (when/otherwise)
    "q_conditional" -> ((s, d) =>
      Tables.orders(s, d)
        .select(when(col("o_totalprice") > 200000, lit("big"))
          .when(col("o_totalprice") > 50000, lit("mid"))
          .otherwise(lit("small")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // P10/P11 explode (the reference's only UDTF shape —
    // SingleSourceShortestPathRDD/.../FollowerCount.scala:62-76)
    "q_explode" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")),

    // ---- scalar functions (SURVEY §2.8: F1-F11) ----
    "q_scalar_funcs" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        concat_ws("-", col("p_brand"), col("p_type")).as("tagged"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        abs(col("p_retailprice") - 1000.0).as("price_dev"),
        (col("p_size") * col("p_size")).cast("long").as("size_sq"),
        least(col("p_size"), lit(25)).cast("long").as("size_lo"),
        greatest(col("p_size"), lit(25)).cast("long").as("size_hi"),
        floor(col("p_retailprice")).cast("double").as("price_fl"),
        ceil(col("p_retailprice")).cast("double").as("price_ce"),
        col("p_size").cast("string").as("size_str"),
        coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("OTHER")).as("brand_or"))
        .orderBy("p_partkey")),

    // ---- joins (SURVEY §2.3) ----
    // J1/J2 inner equi-join (shuffle side)
    "q_join_inner" -> ((s, d) =>
      Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .filter(col("o_totalprice") > 150000)
        .select("o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey")),

    // J3/J4 right-outer join: every customer keeps a row even with no
    // orders (SingleSourceShortestPathRDD/.../FollowerCount.scala:38-39)
    "q_join_outer" -> ((s, d) => {
      val cnt = Tables.orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      cnt.join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"), "right_outer")
        .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // full-outer merge with coalesce — the join form of the reference's
    // U1 union-merge pattern (PageRankRDD/.../FollowerCount.scala:64-66);
    // the %2/%3 splits leave both sides with unmatched rows
    "q_join_full" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("k"), col("c_nationkey").cast("long").as("n_a"))
      val b = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), col("c_nationkey").cast("long").as("n_b"))
      a.join(b, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("n_a"), lit(-1L)).as("n_a"),
          coalesce(col("n_b"), lit(-1L)).as("n_b"))
        .orderBy("k")
    }),

    // J8 replicated/broadcast join (RepJoin/src/main/java/wc/
    // CountFollowers.java:31-77) — dims are broadcast, fact side never moves
    "q_join_broadcast" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_cust"))
        .orderBy("r_name")),

    // J7 composite-key self-join (ReduceSideJoin job 2's "dst,src" string
    // key — ReduceSideJoin/.../CountFollowers.java:92-164 — as native
    // multi-column equi-join)
    "q_join_composite" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"), col("l_partkey").as("pk_a"))
      val b = li.select(col("l_orderkey").as("ok"), (col("l_linenumber") - 1).as("ln"), col("l_partkey").as("pk_b"))
      a.join(b, Seq("ok", "ln"))
        .select(col("ok"), col("ln"), col("pk_a"), col("pk_b"))
        .orderBy("ok", "ln")
    }),

    // shuffle-hash join hint: the mid-size-dim strategy when broadcast
    // doesn't fit but one side is small enough to hash per partition
    "q_join_shuffle_hash" -> ((s, d) =>
      Tables.orders(s, d).hint("shuffle_hash")
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
        .orderBy("c_mktsegment")),

    // left-semi join (beyond reference: rounds out the join family)
    "q_join_semi" -> ((s, d) =>
      Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    // left-anti join (customers with no orders)
    "q_join_anti" -> ((s, d) =>
      Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // J9 point lookup
    "q_point_lookup" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderkey") === 7)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // ---- set ops (SURVEY §2.7) ----
    // U1/U2 union + merge-agg (the PageRank rank-merge pattern,
    // PageRankRDD/.../FollowerCount.scala:64-66)
    "q_union_merge" -> ((s, d) => {
      val zeroed = Tables.customer(s, d).select(col("c_custkey").as("k"), lit(0L).as("v"))
      val counted = Tables.orders(s, d).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("v"))
      zeroed.unionByName(counted).groupBy("k").agg(sum("v").as("v")).orderBy("k")
    }),

    // except/intersect (beyond reference)
    "q_set_except" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("k"))
        .except(Tables.orders(s, d).select(col("o_custkey").as("k")))
        .orderBy("k")),
    // multiset (bag) semantics: keeps duplicates minus matched occurrences
    "q_set_except_all" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_custkey").as("k"))
        .exceptAll(Tables.customer(s, d).select(col("c_custkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),
    "q_set_intersect_all" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_partkey").as("k"))
        .intersectAll(Tables.lineitem(s, d).filter(col("l_orderkey") % 2 === 0)
          .select(col("l_partkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),
    "q_set_intersect" -> ((s, d) =>
      Tables.part(s, d).select(col("p_partkey").as("k"))
        .intersect(Tables.lineitem(s, d).select(col("l_partkey").as("k")))
        .orderBy("k")),

    // ---- sort / top-k (SURVEY §2.6: O1) ----
    "q_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")),

    // ---- windows (SURVEY §2.5 — absent in reference; argmin/topk-per-group
    // is the idiomatic replacement for K-means/...:101-107's manual loop) ----
    "q_window_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy(asc("c_acctbal"), asc("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("c_nationkey", "rn", "c_custkey", "c_acctbal")
        .orderBy("c_nationkey", "rn")
    }),
    "q_window_running" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d).filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum("l_quantity").over(w).as("run_qty"),
          count(lit(1)).over(w).as("run_n"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // distribution windows: ntile / percent_rank / cume_dist (all exact
    // rationals of rank and partition size — deterministic cross-engine)
    "q_window_ntile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy(asc("c_acctbal"), asc("c_custkey"))
      Tables.customer(s, d).select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
        .orderBy("c_nationkey", "c_custkey")
    }),

    // CUBE with grouping_id (rollup's full-lattice sibling)
    "q_agg_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .select("gid", "l_returnflag", "l_linestatus", "n", "sum_qty")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // null-safe equi-join (<=>): null keys match each other instead of
    // disappearing — the semantics a dedup on nullable keys needs
    "q_join_nullsafe" -> ((s, d) => {
      val keyed = Tables.orders(s, d).select(
        when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_custkey")).as("k"),
        col("o_orderkey"))
      val sides = keyed.groupBy("k").agg(count(lit(1)).as("n"))
      sides.toDF("k", "n_a").join(sides.toDF("k2", "n_b"), col("k") <=> col("k2"))
        .select(col("k"), col("n_a"), col("n_b"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // lead/lag analytics (window family beyond running totals)
    "q_window_lag" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_orderkey", 1).over(w).as("next_key"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // as-of (snapshot) join — ops.AsOfJoin composed union+window operator;
    // DuckDB validates with its native ASOF LEFT JOIN. Checkpoints are the
    // event_id%10==0 subsample, deduped per (user, µs) for determinism.
    "q_asof_join" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val leftSide = base.filter(col("event_id") % 10 =!= 0)
      val ckpts = base.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_us").agg(max("event_id").as("ckpt_id"))
      graft.ops.AsOfJoin.asOf(leftSide, ckpts, "user_id", "ts_us")
        .select("event_id", "user_id", "ts_us", "ckpt_id")
        .orderBy("event_id")
    }),

    // hot-key-safe as-of twin: the per-key window becomes per-(key, 4h
    // chunk) + a summary-sized carry fill (AsOfJoin.asOfChunked). SAME
    // oracle SQL as q_asof_join, so chunked ≡ plain is hash-CERTIFIED.
    // Round-11 skew sweep: plain as-of pays 1.37x/1.78x with 25%/50% of
    // all events on one user (the window partition is indivisible);
    // chunking bounds any task at chunk-width × arrival-rate.
    "q_asof_join_chunked" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val leftSide = base.filter(col("event_id") % 10 =!= 0)
      val ckpts = base.filter(col("event_id") % 10 === 0)
        .groupBy("user_id", "ts_us").agg(max("event_id").as("ckpt_id"))
      graft.ops.AsOfJoin.asOfChunked(leftSide, ckpts, "user_id", "ts_us",
          chunkSize = 14400000000L) // 4 h in µs
        .select("event_id", "user_id", "ts_us", "ckpt_id")
        .orderBy("event_id")
    }),

    // SCD2 point-in-time dimension join: orders open per-customer validity
    // intervals ([orderdate, next orderdate), priority as the tracked
    // attribute); each event picks the attribute valid at its timestamp.
    // ENGINE side runs the as-of composition (union + one window — the
    // scale-correct plan, no interval range join); the ORACLE states the
    // validity-interval semantics directly, so the hash equality proves
    // as-of ≡ SCD2-interval cross-engine (intervals are consecutive, so
    // "greatest start <= ts" and "ts ∈ [start, next)" coincide, including
    // the boundary ts == next start).
    "q_scd2_join" -> ((s, d) => {
      val dim = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
          col("o_orderkey"), col("o_orderpriority"))
        .groupBy("user_id", "ts_us")
        .agg(max(struct(col("o_orderkey"), col("o_orderpriority"))).as("m"))
        .select(col("user_id"), col("ts_us"), col("m.o_orderpriority").as("prio_asof"))
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      graft.ops.AsOfJoin.asOf(ev, dim, "user_id", "ts_us")
        .filter(col("prio_asof").isNotNull)
        .select("event_id", "user_id", "ts_us", "prio_asof")
        .orderBy("event_id")
    }),

    // correlation from exact integer moments: both operands are integral,
    // so every sum is exact and the final double expression is evaluated
    // in the same op order on both engines — bit-identical without any
    // engine-native corr() (whose accumulation algorithms differ)
    "q_agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          col("l_linenumber").cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("corr_qty_line"))
        .orderBy("l_returnflag")),

    // temporal functions: extraction + monthly rollup on l_shipdate
    "q_time_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).cast("long").as("y"),
          month(col("l_shipdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("y", "m")),

    // autocorrelation of the daily event-count series at lags 1..7,
    // exact-decimal scaled internally: r_k = num/den with both sides
    // multiplied by n² so no float (or mean) is ever materialized — the
    // repo's log/float-free determinism rule applied to a second-moment
    // time-series statistic. The series is tiny after the daily rollup,
    // so the row_number window and the banded self-join run on the
    // aggregate, never on raw events.
    // All moments and products run in DECIMAL(38,0) (the decimal-money
    // pattern); DuckDB computes the same products in HUGEINT (its decimal
    // multiply caps combined width at 38). Every scaled term is
    // ≤ 4·n²·sxx (Cauchy–Schwarz: sxy ≤ sxx, sx² ≤ n·sxx, sh+st ≤ 2·sx),
    // so 38 digits hold while sxx ≤ 10^38/(4n²) — daily counts up to
    // ~10^16 at n = 10^4 days, past any physical data volume.
    // OUTPUT CONTRACT (round 12): the exact num/den stay internal; the
    // emitted value is the proven cast-to-double / single-division /
    // round(·,6) pattern (dup_frac, importance affinity). The r11 driver
    // comparator disagreed with the repo gate on DECIMAL(38,0) values of
    // magnitude ~10¹¹ (the catalog's only decimal ints that large); a
    // correctly-rounded IEEE cast + one division + round is deterministic
    // on both engines at every magnitude, with no representation hazard.
    "q_time_acf" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      val dec = DecimalType(38, 0)
      val serie = Fixpoint.materializedLeaf(Tables.events(s, d)
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).cast(dec).as("x"))
        // consumed by stats + both join sides
        .select(col("day"), col("x"), row_number().over(w).cast("long").as("rn")))
      val stats = serie.agg(count(lit(1)).cast(dec).as("n"),
        sum("x").cast(dec).as("sx"),
        sum(col("x") * col("x")).cast(dec).as("sxx"))
      val a = serie.select(col("rn").as("arn"), col("x").as("ax"))
      val b = serie.select(col("rn").as("brn"), col("x").as("bx"))
      a.join(b, col("brn") > col("arn") && col("brn") <= col("arn") + AcfMaxLag)
        .groupBy((col("brn") - col("arn")).as("lag"))
        .agg(count(lit(1)).as("npairs"), sum(col("ax") * col("bx")).as("sxy"),
          sum("ax").as("sh"), sum("bx").as("st"))
        .crossJoin(broadcast(stats))
        .select(col("lag"), col("npairs"),
          round(
            (col("n") * col("n") * col("sxy")
              - col("n") * col("sx") * (col("sh") + col("st"))
              + col("npairs").cast(dec) * col("sx") * col("sx"))
              .cast(dec).cast("double")
              / (col("n") * col("n") * col("sxx")
                - col("n") * col("sx") * col("sx")).cast(dec).cast("double"),
            6).as("acf"))
        .orderBy("lag")
    }),

    "q_time_funcs" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).cast("long").as("y"),
          quarter(col("l_shipdate")).cast("long").as("q"),
          month(col("l_shipdate")).cast("long").as("m"),
          dayofmonth(col("l_shipdate")).cast("long").as("dom"),
          dayofweek(col("l_shipdate")).cast("long").as("dow"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("iso"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- time / events ----
    // events.ts is TIMESTAMP(NANOS) parquet, beyond Spark's micros range —
    // read as raw nanosecond longs (spark.sql.legacy.parquet.nanosAsLong in
    // the session) and use integer arithmetic, which also sidesteps
    // cross-engine timestamp-formatting differences.
    "q_events_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("string").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
        .orderBy("bucket", "event_type")),

    // sliding event-time windows (1 h long, 15 min slide): every event
    // contributes to 4 overlapping windows — window() fans out inside the
    // engine; the oracle fans out explicitly with a 4-row cross join.
    // Both engines align window origins to the epoch.
    "q_events_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          window(timestamp_micros(expr("ts div 1000")), "1 hour", "15 minutes")("start")
            .cast("string").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
        .orderBy("bucket", "event_type")),

    // interval self-join via ops.RangeJoin's bucketized band join: event
    // pairs per user within one hour, aggregated. The oracle validates
    // with a direct inequality join — same result, quadratic plan.
    "q_events_pairs" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), expr("ts div 1000000").as("ms"))
      graft.ops.RangeJoin.pairsWithin(e, "user_id", "event_id", "ms", 3600000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"), sum(col("ts_b") - col("ts_a")).as("sum_gap_ms"))
        .orderBy("user_id")
    }),

    "q_events_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("ms", expr("ts div 1000000"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum("new_sess").over(sess))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          // µs, not ns: DuckDB truncates TIMESTAMP(NANOS) parquet to its
          // native µs precision on read, so the oracle can't see nanos
          min(expr("ts div 1000")).as("t_start_us"),
          max(expr("ts div 1000")).as("t_end_us"))
        .orderBy("user_id", "session_idx")
    }),

    // hot-user-safe sessionize twin: local sessions per (user, 4h chunk) +
    // a summary-sized stitch pass (ops.Sessionize.chunked — merge only ever
    // crosses ADJACENT chunks since chunkMs > gapMs). SAME oracle SQL as
    // q_events_sessionize: chunked ≡ plain is hash-certified, including the
    // global session numbering across merged boundaries.
    "q_events_sessionize_chunked" -> ((s, d) =>
      graft.ops.Sessionize.chunked(
          Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts")),
          gapMs = 1800000L, chunkMs = 14400000L)
        .orderBy("user_id", "session_idx")),
  )

  /** FLAT per-flag HDR histogram + quantile extraction — deliberately not
    * the engine's two-level/stored-plus-delta merge, so the hash equality
    * IS the mergeability proof (the q_agg_hll_merge pattern). Exact
    * integer bucket/rank math end to end; the only DOUBLEs are the
    * power-of-two-exact boundary decodes. */
  private val quantileFlatSql = QuantileSketch.flatSql("lineitem",
    "l_returnflag", "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
    Seq(50, 90, 99))

  /** every cube level computed FLAT from the raw relation (per-flag AND
    * the grand total each get their own direct histogram — never from
    * partials), so hash equality against the engine's rolled-up partials
    * is the multi-level mergeability proof */
  private val quantileCubeSql = {
    val v = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"""WITH cents AS MATERIALIZED (
       |  SELECT l_returnflag,
       |    ${graft.ops.QuantileSketch.bucketKeyDuckSelect(v)}
       |  FROM lineitem),
       |histg AS MATERIALIZED (
       |  SELECT l_returnflag AS grp, bkt, CAST(count(*) AS BIGINT) AS cnt
       |  FROM cents GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'ALL' AS grp, bkt, CAST(count(*) AS BIGINT) AS cnt
       |  FROM cents GROUP BY 1, 2)
       |${graft.ops.QuantileSketch.quantilesDuck("histg", "grp", Seq(50, 90, 99))}
       |ORDER BY grp""".stripMargin
  }

  /** Flat CMS replay in DuckDB over a (grp, k) key-level relation: cells
    * built directly from the full relation + probe point queries + exact
    * counts — the one SQL every engine face (two-level merge, cube
    * rollup, stored-plus-delta IVM) must hash-match, which is the
    * linear-sketch mergeability proof. Same affine row hashes as
    * ops.CountMin, spelled for DuckDB (every intermediate integral). */
  /** The Depth affine hash rows as a DuckDB VALUES relation —
    * interpolated from the ops constants so engine and oracle share ONE
    * definition (the single-source rule). */
  private val sketchRowsSql: String = (0 until CountMin.Depth).map { i =>
    s"($i, CAST(${CountMin.RowA(i)} AS BIGINT), CAST(${CountMin.RowB(i)} AS BIGINT))"
  }.mkString("VALUES ", ",\n         ", "")

  private def cmsSql(keysSql: String): String =
    s"""WITH keys AS MATERIALIZED ($keysSql),
       |d(r, a, b) AS (
       |  $sketchRowsSql),
       |cells AS MATERIALIZED (
       |  SELECT grp, r, ((a * k + b) % ${CountMin.P}) % ${CountMin.Width} AS c,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM keys CROSS JOIN d GROUP BY 1, 2, 3),
       |probes AS MATERIALIZED (
       |  SELECT DISTINCT grp, k FROM keys WHERE k % 50 = 0),
       |pcells AS (
       |  SELECT grp, k, r, ((a * k + b) % ${CountMin.P}) % ${CountMin.Width} AS c
       |  FROM probes CROSS JOIN d),
       |est AS (
       |  SELECT grp, k, min(cnt) AS est
       |  FROM pcells JOIN cells USING (grp, r, c) GROUP BY 1, 2),
       |exact AS (
       |  SELECT grp, k, CAST(count(*) AS BIGINT) AS exact_cnt
       |  FROM keys GROUP BY 1, 2)
       |SELECT grp, k, est, exact_cnt, est >= exact_cnt AS no_underest
       |FROM est JOIN exact USING (grp, k)
       |ORDER BY grp, k""".stripMargin

  private val cmsFlagKeys =
    "SELECT l_returnflag AS grp, CAST(l_partkey AS BIGINT) AS k FROM lineitem"

  /** The flat per-flag HLL sketch in DuckDB — see the q_agg_hll oracle
    * comment; shared verbatim by the plain/merge/IVM faces. Interpolated
    * from the ops.Hll constants/fragments (single-source rule). */
  private val hllFlatSql: String =
    s"""WITH hashed AS MATERIALIZED (
       |  SELECT l_returnflag, ${Hll.hashSql("l_partkey")} AS h
       |  FROM lineitem),
       |regs AS (
       |  ${Hll.regsDuck("l_returnflag")}
       |  FROM hashed GROUP BY 1, 2)
       |${Hll.estDuck("l_returnflag", "apx_parts")}
       |ORDER BY l_returnflag""".stripMargin

  /** Flat Bloom replay in DuckDB over a (grp, k) key-level relation:
    * occupied cells from the full relation, membership probes over the
    * present (k % 50 = 0) + absent (data-derived, above max(k)) mix, the
    * no-false-negative law in-band — the one SQL the OR-merge, cube and
    * IVM engine faces must hash-match. Same affine hashes as
    * ops.BloomSketch at Width 8192. */
  private def bloomSql(keysSql: String): String =
    s"""WITH keys AS MATERIALIZED ($keysSql),
       |d(r, a, b) AS (
       |  $sketchRowsSql),
       |cells AS MATERIALIZED (
       |  SELECT DISTINCT grp, r, ((a * k + b) % ${CountMin.P}) % ${BloomSketch.Width} AS c
       |  FROM keys CROSS JOIN d),
       |probes AS MATERIALIZED (
       |  SELECT DISTINCT grp, k FROM keys WHERE k % 50 = 0
       |  UNION ALL
       |  SELECT g.grp, m.mk + (CAST(x.range AS BIGINT) + 1) * 37 AS k
       |  FROM (SELECT DISTINCT grp FROM keys) g
       |  CROSS JOIN (SELECT max(k) AS mk FROM keys) m
       |  CROSS JOIN range(40) x),
       |pcells AS (
       |  SELECT grp, k, r, ((a * k + b) % ${CountMin.P}) % ${BloomSketch.Width} AS c
       |  FROM probes CROSS JOIN d),
       |hits AS (
       |  SELECT p.grp, p.k, count(t.c) = ${BloomSketch.Depth} AS hit
       |  FROM pcells p LEFT JOIN cells t
       |    ON p.grp = t.grp AND p.r = t.r AND p.c = t.c
       |  GROUP BY 1, 2),
       |truth AS (SELECT DISTINCT grp, k, TRUE AS present FROM keys)
       |SELECT h.grp, h.k, h.hit,
       |  coalesce(t.present, FALSE) AS present,
       |  (h.hit OR NOT coalesce(t.present, FALSE)) AS no_false_neg
       |FROM hits h LEFT JOIN truth t ON h.grp = t.grp AND h.k = t.k
       |ORDER BY h.grp, h.k""".stripMargin

  /** Misra–Gries replay in DuckDB over a (grp, batch, k) key-occurrence
    * relation: per-(grp, batch) exact counts, the (K+1)-th-largest
    * subtraction (row_number by (cnt DESC, k) — the rn = K+1 row's count
    * IS the (K+1)-th largest, matching the engine's min-over-top-(K+1)),
    * counter-join merge to grp, second subtraction, then the exact/total
    * join with the two-sided in-band law spelled integrally. The summary
    * is deterministic by construction, so the replay is EXACT — no
    * probabilistic slack anywhere. */
  private def mgSql(keysSql: String): String = {
    val k1 = MisraGries.K + 1
    s"""WITH keys AS MATERIALIZED ($keysSql),
       |cnts AS MATERIALIZED (
       |  SELECT grp, batch, k, CAST(count(*) AS BIGINT) AS cnt
       |  FROM keys GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT grp, batch, k, cnt,
       |    row_number() OVER (PARTITION BY grp, batch ORDER BY cnt DESC, k) AS rn
       |  FROM cnts),
       |doff AS (
       |  SELECT grp, batch,
       |    coalesce(max(CASE WHEN rn = $k1 THEN cnt END), CAST(0 AS BIGINT)) AS d
       |  FROM rk GROUP BY 1, 2),
       |summ AS MATERIALIZED (
       |  SELECT r.grp, r.k, r.cnt - o.d AS est
       |  FROM rk r JOIN doff o ON r.grp = o.grp AND r.batch = o.batch
       |  WHERE r.cnt > o.d),
       |comb AS (
       |  SELECT grp, k, CAST(sum(est) AS BIGINT) AS cnt FROM summ GROUP BY 1, 2),
       |rk2 AS (
       |  SELECT grp, k, cnt,
       |    row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, k) AS rn
       |  FROM comb),
       |doff2 AS (
       |  SELECT grp,
       |    coalesce(max(CASE WHEN rn = $k1 THEN cnt END), CAST(0 AS BIGINT)) AS d
       |  FROM rk2 GROUP BY 1),
       |mg AS (
       |  SELECT r.grp, r.k, r.cnt - o.d AS est
       |  FROM rk2 r JOIN doff2 o ON r.grp = o.grp
       |  WHERE r.cnt > o.d),
       |exact AS (
       |  SELECT grp, k, CAST(count(*) AS BIGINT) AS exact_cnt
       |  FROM keys GROUP BY 1, 2),
       |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY 1)
       |SELECT m.grp, m.k, m.est, e.exact_cnt, t.n,
       |  (m.est <= e.exact_cnt AND (e.exact_cnt - m.est) * $k1 <= t.n) AS in_band
       |FROM mg m
       |JOIN exact e ON m.grp = e.grp AND m.k = e.k
       |JOIN tot t ON m.grp = t.grp
       |ORDER BY m.grp, m.k""".stripMargin
  }

  private val mgFlagKeys =
    s"SELECT l_returnflag AS grp, l_linestatus AS batch, $mgKey AS k FROM lineitem"

  /** Flat KMV replay in DuckDB over a (grp, k) key-level relation: the K
    * smallest distinct affine hashes per grp (row_number over the hash
    * order — the engine's bounded-heap TopKPerKey extraction produces
    * the same set), the regime-split estimate (exact count below K, one
    * IEEE division at saturation), the exact distinct join, and the
    * in-band law. Deliberately FLAT — never the engine's two-level merge
    * or replayed fold — so hash equality IS the K-min merge law and
    * (for the inc face) the idempotence proof. Constants interpolated
    * from ops.KmvSketch (single-source rule). */
  private def kmvSql(keysSql: String): String = {
    val kk = KmvSketch.K
    s"""WITH keys AS MATERIALIZED ($keysSql),
       |hs AS (SELECT DISTINCT grp, ${KmvSketch.hashSql("k")} AS h FROM keys),
       |rk AS (
       |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |  FROM hs),
       |sk AS MATERIALIZED (SELECT grp, h FROM rk WHERE rn <= $kk),
       |est AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
       |    CASE WHEN count(*) < $kk THEN CAST(count(*) AS DOUBLE)
       |         ELSE CAST(${KmvSketch.EstNumerator} AS DOUBLE) / max(h) END AS est
       |  FROM sk GROUP BY grp),
       |exact AS (
       |  SELECT grp, CAST(count(DISTINCT k) AS BIGINT) AS nd FROM keys GROUP BY grp)
       |SELECT e.grp, e.n_kept, e.est, x.nd,
       |  ((e.n_kept < $kk AND e.est = CAST(x.nd AS DOUBLE)) OR
       |   (e.n_kept = $kk AND e.est >= 0.5 * x.nd AND e.est <= 2.0 * x.nd)) AS in_band
       |FROM est e JOIN exact x USING (grp)
       |ORDER BY grp""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // MG faces: the merge/IVM partial structure replayed exactly; the
    // cube's batch key is flag||status at BOTH levels so the ALL level
    // merges the same six per-(flag, status) partials the engine rolls up
    "q_agg_mg_merge" -> mgSql(mgFlagKeys),
    // the SQL-surface faces must reproduce the Column-API pipelines
    // exactly, so they share those faces' oracles (q_sql_dedup pattern)
    "q_sql_cms" -> cmsSql(cmsFlagKeys),
    "q_sql_hll" -> hllFlatSql,
    "q_sql_mg" -> mgSql(mgFlagKeys),
    "q_agg_mg_inc" -> mgSql(
      s"SELECT l_returnflag AS grp, l_orderkey % 2 AS batch, $mgKey AS k FROM lineitem"),
    "q_agg_mg_cube" -> mgSql(
      s"""SELECT l_returnflag AS grp, l_returnflag || l_linestatus AS batch,
         |    $mgKey AS k FROM lineitem
         |  UNION ALL
         |  SELECT 'ALL' AS grp, l_returnflag || l_linestatus AS batch,
         |    $mgKey AS k FROM lineitem""".stripMargin),

    // FLAT per-flag KMV sample — deliberately not the engine's two-level
    // MIN-merge (merge face), replayed fold (inc face), or two-level cube
    // rollup, so hash equality IS the K-min merge law / idempotence proof
    "q_agg_kmv_merge" -> kmvSql(cmsFlagKeys),
    "q_agg_kmv_inc" -> kmvSql(cmsFlagKeys),
    "q_agg_kmv_cube" -> kmvSql(
      s"""$cmsFlagKeys
         |  UNION ALL
         |  SELECT 'ALL' AS grp, CAST(l_partkey AS BIGINT) AS k FROM lineitem""".stripMargin),

    "q_agg_quantile_merge" -> quantileFlatSql,
    "q_agg_quantile_inc" -> quantileFlatSql,
    "q_agg_quantile_cube" -> quantileCubeSql,

    // FLAT per-flag CMS — deliberately not the engine's two-level merge /
    // stored-plus-delta fold, so hash equality IS the linearity proof
    "q_agg_cms_merge" -> cmsSql(cmsFlagKeys),
    "q_agg_cms_inc" -> cmsSql(cmsFlagKeys),
    // both cube levels flat from the raw key relation (the hll/quantile
    // cube convention)
    "q_agg_cms_cube" -> cmsSql(
      s"""$cmsFlagKeys
         |  UNION ALL
         |  SELECT 'ALL' AS grp, CAST(l_partkey AS BIGINT) AS k FROM lineitem""".stripMargin),

    // FLAT per-flag Bloom bit set — deliberately not the engine's
    // OR-merge / stored-OR-delta fold, so hash equality IS the
    // idempotent-union proof
    "q_agg_bloom_merge" -> bloomSql(cmsFlagKeys),
    "q_agg_bloom_inc" -> bloomSql(cmsFlagKeys),
    "q_agg_bloom_cube" -> bloomSql(
      s"""$cmsFlagKeys
         |  UNION ALL
         |  SELECT 'ALL' AS grp, CAST(l_partkey AS BIGINT) AS k FROM lineitem""".stripMargin),

    // each cube level's registers computed FLAT from the hashed relation
    // — never from the other level — the q_agg_hll_merge convention at
    // two levels
    "q_agg_hll_cube" ->
      s"""WITH hashed AS MATERIALIZED (
         |  SELECT l_returnflag, ${Hll.hashSql("l_partkey")} AS h
         |  FROM lineitem),
         |regs AS MATERIALIZED (
         |  ${Hll.regsDuck("l_returnflag AS grp")}
         |  FROM hashed GROUP BY 1, 2
         |  UNION ALL
         |  ${Hll.regsDuck("'ALL' AS grp")}
         |  FROM hashed GROUP BY 1, 2)
         |${Hll.estDuck("grp", "apx_parts")}
         |ORDER BY grp""".stripMargin,

    "q_agg_count" ->
      "SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey ORDER BY o_custkey",

    "q_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_agg_minmax" ->
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_avg" ->
      """SELECT l_linestatus, avg(l_quantity) AS avg_qty, count(*) AS n
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q_agg_of_agg" ->
      """SELECT min(cnt) AS min_cnt, max(cnt) AS max_cnt, count(*) AS n_groups,
         CAST(sum(cnt) AS BIGINT) AS total
         FROM (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)""",

    "q_agg_global" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem""",

    "q_agg_sse" ->
      """SELECT l_returnflag, n, (n*sxx - sx*sx)/n AS sse
         FROM (SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sx,
               sum(l_quantity*l_quantity) AS sxx FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",

    "q_agg_collect_list" ->
      """SELECT l_orderkey, array_to_string(list_sort(list(l_partkey)), ',') AS parts
         FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey ORDER BY l_orderkey""",

    "q_agg_count_salted" ->
      "SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY o_custkey ORDER BY k",

    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price,
         lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
         WHERE l_partkey <= 1000 AND l_suppkey <= 50 AND l_quantity > 10
         ORDER BY l_orderkey, l_linenumber""",

    "q_conditional" ->
      """SELECT CASE WHEN o_totalprice > 200000 THEN 'big'
                     WHEN o_totalprice > 50000 THEN 'mid'
                     ELSE 'small' END AS bucket, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket""",

    "q_explode" ->
      """SELECT word, count(*) AS n
         FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
         WHERE length(word) > 0 GROUP BY word ORDER BY word""",

    "q_scalar_funcs" ->
      """SELECT p_partkey,
         upper(p_brand) AS brand_u,
         concat_ws('-', p_brand, p_type) AS tagged,
         length(p_name) AS name_len,
         substring(p_name, 1, 8) AS name_pfx,
         string_split(p_type, ' ')[1] AS type_head,
         abs(p_retailprice - 1000.0) AS price_dev,
         CAST(p_size * p_size AS BIGINT) AS size_sq,
         CAST(least(p_size, 25) AS BIGINT) AS size_lo,
         CAST(greatest(p_size, 25) AS BIGINT) AS size_hi,
         CAST(floor(p_retailprice) AS DOUBLE) AS price_fl,
         CAST(ceil(p_retailprice) AS DOUBLE) AS price_ce,
         CAST(p_size AS VARCHAR) AS size_str,
         coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or
         FROM part ORDER BY p_partkey""",

    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 150000 ORDER BY o_orderkey""",

    "q_join_outer" ->
      """SELECT c_custkey, coalesce(cnt, 0) AS n_orders
         FROM (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
         RIGHT JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey""",

    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "q_join_composite" ->
      """SELECT a.l_orderkey AS ok, a.l_linenumber AS ln, a.l_partkey AS pk_a, b.l_partkey AS pk_b
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
         ORDER BY ok, ln""",

    "q_join_full" ->
      """SELECT COALESCE(a.k, b.k) AS k,
                COALESCE(a.n_a, -1) AS n_a, COALESCE(b.n_b, -1) AS n_b
         FROM (SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS n_a
               FROM customer WHERE c_custkey % 2 = 0) a
         FULL OUTER JOIN
              (SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS n_b
               FROM customer WHERE c_custkey % 3 = 0) b
           ON a.k = b.k
         ORDER BY k""",

    "q_join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""",

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""",

    "q_point_lookup" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 7",

    "q_union_merge" ->
      """SELECT k, CAST(sum(v) AS BIGINT) AS v FROM (
           SELECT c_custkey AS k, 0 AS v FROM customer
           UNION ALL
           SELECT o_custkey AS k, count(*) AS v FROM orders GROUP BY o_custkey
         ) GROUP BY k ORDER BY k""",

    "q_set_except" ->
      """SELECT k FROM (SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey AS k FROM orders) ORDER BY k""",

    "q_set_intersect" ->
      """SELECT k FROM (SELECT p_partkey AS k FROM part
         INTERSECT SELECT l_partkey AS k FROM lineitem) ORDER BY k""",

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q_window_rank" ->
      """SELECT c_nationkey, rn, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
                  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn
           FROM customer)
         WHERE rn <= 3 ORDER BY c_nationkey, rn""",

    "q_window_running" ->
      """SELECT l_orderkey, l_linenumber,
         sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty,
         count(*) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n
         FROM lineitem WHERE l_orderkey < 2000 ORDER BY l_orderkey, l_linenumber""",

    "q_window_ntile" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
         ORDER BY c_nationkey, c_custkey""",

    "q_agg_cube" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_join_nullsafe" ->
      """WITH keyed AS (
           SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
           FROM orders),
         sides AS (SELECT k, count(*) AS n FROM keyed GROUP BY k)
         SELECT a.k, a.n AS n_a, b.n AS n_b
         FROM sides a JOIN sides b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY a.k NULLS FIRST""",

    "q_agg_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q1,
         quantile_cont(l_quantity, 0.5) AS med, quantile_cont(l_quantity, 0.75) AS q3,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_pivot" ->
      """SELECT l_returnflag,
         sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
         sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",


    // the TRUE literal is the certificate: a hash match means every
    // group's HLL++ estimate fell inside the 5% band around the exact
    // count that both engines compute independently
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag, TRUE AS apx_in_bound,
         count(DISTINCT l_partkey) AS exact_parts, count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // same register algebra as the engine, spelled in DuckDB (// integer
    // division, & bitwise AND on BIGINT); every intermediate is integral.
    // The SAME flat SQL also oracles the merge and IVM faces —
    // deliberately not the engine's two-level / stored-plus-delta folds,
    // so hash equality proves max-merge associativity and idempotence
    "q_agg_hll" -> hllFlatSql,
    "q_agg_hll_merge" -> hllFlatSql,
    "q_agg_hll_inc" -> hllFlatSql,

    "q_set_except_all" ->
      """SELECT k, count(*) AS n FROM (
           SELECT o_custkey AS k FROM orders
           EXCEPT ALL SELECT c_custkey AS k FROM customer)
         GROUP BY k ORDER BY k""",

    "q_set_intersect_all" ->
      """SELECT k, count(*) AS n FROM (
           SELECT l_partkey AS k FROM lineitem
           INTERSECT ALL SELECT l_partkey AS k FROM lineitem WHERE l_orderkey % 2 = 0)
         GROUP BY k ORDER BY k""",

    // validity-interval (SCD2) formulation — deliberately NOT the as-of
    // form the engine runs; hash equality is the semantics proof
    "q_scd2_join" ->
      """WITH dim0 AS (
        |  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS vfrom,
        |    o_orderkey, o_orderpriority
        |  FROM orders),
        |dim1 AS (
        |  SELECT user_id, vfrom, o_orderpriority FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, vfrom
        |      ORDER BY o_orderkey DESC) AS rn FROM dim0) WHERE rn = 1),
        |dim AS (
        |  SELECT user_id, vfrom,
        |    lead(vfrom) OVER (PARTITION BY user_id ORDER BY vfrom) AS vto,
        |    o_orderpriority
        |  FROM dim1),
        |ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT event_id, ev.user_id, ts_us, o_orderpriority AS prio_asof
        |FROM ev JOIN dim ON ev.user_id = dim.user_id
        |  AND ts_us >= vfrom AND (vto IS NULL OR ts_us < vto)
        |ORDER BY event_id""".stripMargin,

    "q_asof_join" -> AsOfJoinSql,
    // the chunked plan shares the plain oracle VERBATIM: the hash equality
    // IS the proof that per-(key, chunk) fill + carry ≡ one per-key window
    "q_asof_join_chunked" -> AsOfJoinSql,

    "q_events_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket, event_type,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "q_events_sliding" ->
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS VARCHAR) AS bucket,
                event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM events CROSS JOIN range(4) t(k)
         GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "q_join_shuffle_hash" ->
      """SELECT c_mktsegment, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_agg_corr" ->
      """SELECT l_returnflag, n,
         CAST(n*sxy - sx*sy AS DOUBLE) /
           (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
           AS corr_qty_line
         FROM (SELECT l_returnflag, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
                 CAST(sum(y*y) AS BIGINT) AS syy
               FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                            CAST(l_linenumber AS BIGINT) AS y FROM lineitem)
               GROUP BY l_returnflag)
         ORDER BY l_returnflag""",

    "q_time_agg" ->
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS y,
         CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS m,
         count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY y, m ORDER BY y, m""",

    "q_time_acf" ->
      s"""WITH daily AS (
         |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, count(*) AS x
         |  FROM events GROUP BY day),
         |s AS (SELECT day, CAST(x AS HUGEINT) AS x,
         |        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily),
         |st AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx,
         |         CAST(sum(x*x) AS HUGEINT) AS sxx FROM s),
         |p AS (SELECT b.rn - a.rn AS lag, count(*) AS npairs,
         |        CAST(sum(a.x*b.x) AS HUGEINT) AS sxy,
         |        CAST(sum(a.x) AS HUGEINT) AS sh, CAST(sum(b.x) AS HUGEINT) AS stt
         |      FROM s a JOIN s b ON b.rn > a.rn AND b.rn <= a.rn + $AcfMaxLag
         |      GROUP BY 1)
         |SELECT p.lag, p.npairs,
         |  round(CAST(st.n*st.n*p.sxy - st.n*st.sx*(p.sh+p.stt)
         |             + CAST(p.npairs AS HUGEINT)*st.sx*st.sx AS DOUBLE)
         |        / CAST(st.n*st.n*st.sxx - st.n*st.sx*st.sx AS DOUBLE), 6) AS acf
         |FROM p, st ORDER BY p.lag""".stripMargin,

    "q_time_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS y,
         CAST(EXTRACT(quarter FROM l_shipdate) AS BIGINT) AS q,
         CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS m,
         CAST(EXTRACT(day FROM l_shipdate) AS BIGINT) AS dom,
         CAST(dayofweek(l_shipdate) + 1 AS BIGINT) AS dow,
         strftime(l_shipdate, '%Y-%m-%d') AS iso
         FROM lineitem WHERE l_orderkey < 100
         ORDER BY l_orderkey, l_linenumber""",

    "q_events_pairs" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events)
         SELECT a.user_id, count(*) AS n_pairs, CAST(sum(b.ms - a.ms) AS BIGINT) AS sum_gap_ms
         FROM e a JOIN e b
           ON a.user_id = b.user_id AND b.ms > a.ms AND b.ms <= a.ms + 3600000
         GROUP BY a.user_id ORDER BY a.user_id""",

    "q_events_sessionize" -> SessionizeSql,
    // the chunked plan shares the plain oracle VERBATIM (same proof shape
    // as q_asof_join_chunked) — including the global session numbering
    "q_events_sessionize_chunked" -> SessionizeSql,
  )

  /** shared by q_asof_join and its chunked twin — one SQL, two plans
    * (lazy: declared below the strict `oracles` val that references it) */
  private lazy val AsOfJoinSql =
    """WITH base AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
       l AS (SELECT * FROM base WHERE event_id % 10 <> 0),
       r AS (SELECT user_id, ts_us, max(event_id) AS ckpt_id FROM base
             WHERE event_id % 10 = 0 GROUP BY user_id, ts_us)
       SELECT l.event_id, l.user_id, l.ts_us, r.ckpt_id
       FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
       ORDER BY l.event_id"""

  /** shared by q_events_sessionize and its chunked twin */
  private lazy val SessionizeSql =
    """WITH e AS (
         SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
                lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
         FROM events),
       f AS (
         SELECT user_id, ts, event_id,
                CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_sess
         FROM e),
       g AS (
         SELECT user_id, ts,
                CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         FROM f)
       SELECT user_id, session_idx, count(*) AS n_events,
              epoch_us(min(ts)) AS t_start_us, epoch_us(max(ts)) AS t_end_us
       FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""
}

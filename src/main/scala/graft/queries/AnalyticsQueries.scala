package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.pipeline.TextHash._
import graft.iterate.Fixpoint

/** Multi-join analytics and training-data-pipeline queries beyond the
  * single-operator catalog: TPC-H-shaped star-schema joins (the workload a
  * reference user grows into once the engine speaks SQL-shaped DataFrames),
  * range-frame windows, context-window packing, and corpus checksums.
  *
  * Determinism policy follows RelQueries: revenue terms are computed in
  * DECIMAL (exact, order-independent sums) and cast to DOUBLE once at the
  * end; integer window sums are CAST(... AS BIGINT) in DuckDB (HUGEINT
  * widening); every query ends in a total ORDER BY.
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** context-window size (tokens) for the packing operator */
  val ContextTokens = 4096L

  /** minimum releasable cohort size for the k-anonymity screen */
  private val KanonK = 6L

  // --- sorted-neighborhood store scratch (r15 verdict item 3 + ADVICE) --
  // one per-process dir for the write-inclusive face (overwritten each
  // run, never accumulated), and a per-sfDir memoized store for the
  // read-only steady-state face (built once, outside the clock)
  private lazy val snIdxRwScratch = graft.core.IO.scratchDir("graft-sn-idx-rw")
  private val snIdxRoStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Build the read-only store once per (process, sfDir); stored pairs
    * land in parquet next to the state (a leaf taken in the first call is
    * released by that call's scope, so a later call could not read it) —
    * each invocation then READS both, the steady-state cost this face
    * exists to price. */
  private def snIdxRoStore(s: SparkSession, d: String): (String, DataFrame) = {
    val dir = snIdxRoStores.computeIfAbsent(d, _ => {
      val existing = Tables.customer(s, d).filter(col("c_custkey") % 10 =!= 0)
      val root = graft.core.IO.scratchDir("graft-sn-idx-ro")
      graft.ops.SortedNeighborhood.writeRankedState(existing,
        "c_custkey", "c_name", root + "/state")
      graft.ops.SortedNeighborhood.pairs(existing, "c_custkey", "c_name", 5)
        .write.mode("overwrite").parquet(root + "/pairs")
      root
    })
    (dir + "/state", s.read.parquet(dir + "/pairs"))
  }
  // EWMA: trailing-window length (bounds per-user state; contributions
  // beyond ~53 halvings are below double ulp anyway)
  private val EwmaWindow = 32
  // CUSUM drift detection over the same trailing window: one-sided page
  // test s' = max(0, s + (cents - target)) with the positive deviation
  // clamped (winsorized CUSUM) so the packed two-field integer state is
  // bounded by construction: s <= W * Clamp = 2^30 < Radix, and
  // max(s) * Radix + s < 2^61 — exact int64 on both engines, no overflow
  // regime to document. Target = 5500 cents (the ~$50 value mean + $5
  // slack); alarm when the peak excursion tops H.
  private val CusumTarget = 5500L
  private val CusumClamp = 1L << 25
  private val CusumRadix = 1L << 31
  private val CusumH = 30000L

  /** exact, order-independent sum of a money-like double column (the
    * RelQueries float-determinism policy) */
  private def dsum(c: String): Column =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  /** exact revenue term: price * (1 - discount) in decimal arithmetic.
    * Both factors are 2-dp money-like doubles, so the decimal casts are
    * exact and the product/sum never touch float rounding until the final
    * cast to DOUBLE of the already-exact total. */
  private def revenueTerm: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))

  private val revenueTermDuck =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** exact charge term price*(1-disc)*(1+tax): narrow per-factor precisions
    * keep the three-way decimal product inside both engines' 38-digit cap
    * with no scale loss (Spark: (12,2)×(5,2)→(18,4), ×(5,2)→(24,6)) */
  private def chargeTerm: Column =
    col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))) *
      (lit(1).cast(DecimalType(4, 2)) + col("l_tax").cast(DecimalType(4, 2)))

  private val chargeTermDuck =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * " +
      "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"

  val defs: Map[String, Q] = Map(
    // TPC-H Q1 (pricing summary): THE scan-and-aggregate benchmark — one
    // pushed-down date filter, one 4-group hash aggregate computing eight
    // aggregates in a single pass. Money sums/averages run in DECIMAL
    // (exact, order-free); quantity sums/averages are integral doubles
    // (exact in any order); so every output is bit-deterministic.
    "q_tpch_q1" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          sum(revenueTerm).cast("double").as("sum_disc_price"),
          sum(chargeTerm).cast("double").as("sum_charge"),
          (sum("l_quantity") / count(lit(1))).as("avg_qty"),
          (dsum("l_extendedprice") / count(lit(1))).as("avg_price"),
          (dsum("l_discount") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q17 shape (small-quantity revenue): a correlated scalar
    // subquery — per-part average quantity gates the outer fact rows.
    // Expressed through spark.sql to exercise Catalyst's subquery
    // decorrelation (it plans the same per-part aggregate + join a manual
    // decorrelation would write).
    "q_tpch_q17" -> ((s, d) => {
      // view names are dir-unique so building the query for two sf dirs in
      // one session can't rebind a lazily-consumed plan's tables (every
      // other catalog entry is a pure (session, dir) => DataFrame). The
      // tag is the sanitized dir itself, not a hash — collisions between
      // distinct dirs are impossible by construction.
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      Tables.lineitem(s, d).createOrReplaceTempView(s"graft_li_q17_$tag")
      Tables.part(s, d).createOrReplaceTempView(s"graft_part_q17_$tag")
      s.sql(s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
                FROM graft_li_q17_$tag l JOIN graft_part_q17_$tag p ON p.p_partkey = l.l_partkey
                WHERE p.p_brand = 'Brand#4'
                  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                      FROM graft_li_q17_$tag l2
                                      WHERE l2.l_partkey = l.l_partkey)
                ORDER BY avg_yearly""")
    }),

    // Cohort retention: users grouped by first-active day; per (cohort,
    // day-offset) distinct active-user counts — the standard product-
    // analytics retention matrix. Day indexing is integer floor division
    // of the epoch on both engines (nanos÷day == µs÷day composition).
    "q_events_retention" -> ((s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min("day").as("cohort"))
      act.join(cohort, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "day_offset")
    }),

    // TPC-H Q3 shape (shipping priority): two big fact tables shuffle-join
    // on the order key while the selective dimension (customer, segment
    // filter) broadcasts — at 100 TB the only shuffled relations are the
    // two facts, each pre-filtered by its pushed-down date predicate.
    "q_tpch_q3" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
        .join(Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(revenueTerm).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)),

    // TPC-H Q5 shape (local supplier volume): a 6-table star join where the
    // customer and supplier nations must MATCH — the classic plan has the
    // two big facts shuffle on l_orderkey/l_suppkey while nation and the
    // region-filtered nation list broadcast. Group-by collapses to one row
    // per nation before any ordering.
    "q_tpch_q5" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(revenueTerm).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // TPC-H Q18 shape (large-volume orders): the filter is a HAVING over an
    // aggregate of the fact table itself — the aggregate runs once, its
    // survivors (a tiny key set) drive joins back into orders/customer.
    // l_quantity is integral-valued, so the double sums are exact.
    "q_tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .filter(col("total_qty") > 180)
      Tables.orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q2 shape (min-cost supplier, adapted: this dataset has no
    // partsupp, so the correlated min runs per part size): parts priced at
    // their size group's minimum. The classic decorrelation — group-agg
    // the min per correlation key, broadcast it back — written explicitly;
    // at 100 TB the agg output is |distinct sizes| rows, always broadcast.
    "q_tpch_q2" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_size") <= 10)
      val minPrice = p.groupBy("p_size").agg(min("p_retailprice").as("min_price"))
      p.join(broadcast(minPrice), Seq("p_size"))
        .filter(col("p_retailprice") === col("min_price"))
        .select(col("p_size"), col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy("p_size", "p_partkey")
    }),

    // TPC-H Q4 (priority checking): EXISTS with a correlated inequality —
    // a left-semi join whose condition spans both sides (shipped >60 days
    // after ordering). The semi join keeps orders unduplicated no matter
    // how many late lines an order has.
    "q_tpch_q4" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg —
    // every predicate pushes to the parquet scan, one partial-aggregated
    // decimal sum, no shuffle beyond the single-row exchange. The discount
    // band compares parquet-exact doubles (selection, not arithmetic).
    "q_tpch_q6" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(4, 2)))
          .cast("double").as("revenue"))
        .orderBy("revenue")),

    // TPC-H Q7 (volume shipping): revenue between two nations by year,
    // either direction. The nation filter is applied to supplier and
    // customer BEFORE the fact joins (Catalyst cannot derive the per-side
    // IN-superset from the pair disjunction on its own), so lineitem joins
    // two pre-shrunk broadcast dims instead of filtering post-join.
    "q_tpch_q7" -> ((s, d) => {
      val pair = Seq("NATION_3", "NATION_7")
      val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      val supp = Tables.supplier(s, d).join(broadcast(n1), col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.customer(s, d).join(broadcast(n2), col("c_nationkey") === col("cnk"))
        .select("c_custkey", "cust_nation")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(sum(revenueTerm).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    }),

    // TPC-H Q10 (returned items): top customers by revenue lost to
    // returns in a half-year — fact-fact shuffle join on orderkey, then
    // broadcast dims; the returnflag and date filters both push to scans.
    "q_tpch_q10" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1996-07-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(revenueTerm).cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_name"))
        .orderBy(desc("revenue"), asc("c_custkey")).limit(20)),

    // TPC-H Q12 shape (shipping modes → order priorities; this dataset
    // has no shipmode column): conditional counts partition one join's
    // rows into high/low priority classes in a single pass.
    "q_tpch_q12" -> ((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q14 (promotion effect): a conditional decimal sum over a
    // total decimal sum — each sum is exact, each is cast to DOUBLE once,
    // and the single multiply/divide chain is IEEE-deterministic.
    "q_tpch_q14" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-02-01"))
        .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
        .agg((lit(100.0) *
            sum(when(col("p_type") === "PROMO", revenueTerm)
              .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
            sum(revenueTerm).cast("double")).as("promo_revenue"))
        .orderBy("promo_revenue")),

    // TPC-H Q16 shape (supplier counts by part attributes; lineitem
    // stands in for the missing partsupp): NOT IN over a non-null key is
    // the broadcast anti-join; the distinct part-supplier projection
    // collapses the fact table before any dimension work.
    "q_tpch_q16" -> ((s, d) => {
      val ps = Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
      val badSupp = Tables.supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")
      ps.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30))),
          col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
    }),

    // TPC-H Q19 (discounted revenue, disjunctive predicates): the part
    // side is pre-filtered with the hand-derived superset of the three
    // disjuncts (brand IN + max size band) so the broadcast ships only
    // candidate parts; the exact triple-condition filter runs post-join.
    "q_tpch_q19" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
              col("p_size").between(1, 15))),
          col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(revenueTerm).cast("double").as("revenue"))
        .orderBy("revenue")),

    // TPC-H Q21 shape (suppliers who kept orders waiting; "late" = shipped
    // >90 days after ordering, standing in for the missing commit/receipt
    // dates): the classic EXISTS / NOT-EXISTS pair decorrelated into ONE
    // pass — per-order distinct-supplier and distinct-late-supplier counts
    // via window collect_sets on the already-shuffled orderkey partition,
    // so the fact join is scanned once with no self-join re-derivation.
    "q_tpch_q21" -> ((s, d) => {
      val flag = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"))
      val w = Window.partitionBy("l_orderkey")
      flag
        .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_late", size(collect_set(when(col("late"), col("l_suppkey"))).over(w)))
        .filter(col("late") && col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name")).limit(25)
    }),

    // TPC-H Q22 shape (global-customer sales opportunity): a scalar-agg
    // threshold (avg positive balance, computed as one exact decimal sum
    // over a count — a single deterministic division) broadcast as a
    // 1-row cross join, then an anti join against recently-active buyers.
    "q_tpch_q22" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val thr = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("thr"))
      val active = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey").distinct()
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(broadcast(active), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("totacctbal"))
        .orderBy("c_mktsegment")
    }),

    // TPC-H Q8 (national market share): of all STANDARD-part revenue sold
    // to ASIA-region customers, the share supplied by NATION_5, by order
    // year. Every dimension (part filter, supplier→nation, customer's
    // region gate) broadcasts; the only shuffles are the lineitem↔orders
    // fact join and the |years|-row aggregate. Share = two exact decimal
    // sums each cast to DOUBLE once, then a single IEEE division.
    "q_tpch_q8" -> ((s, d) => {
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val suppNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_type") === "STANDARD").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_5", revenueTerm)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
          sum(revenueTerm).cast("double")).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 shape (product type profit; no partsupp table, so supply
    // cost is proxied as 10% of p_retailprice): profit per supplier nation
    // per order year over 'widget' parts. Revenue and cost are separate
    // exact decimal sums, subtracted once in DOUBLE — no float accumulation
    // anywhere. part/supplier/nation broadcast; lineitem↔orders shuffles.
    "q_tpch_q9" -> ((s, d) => {
      val costTerm = col("l_quantity").cast(DecimalType(12, 2)) *
        col("p_retailprice").cast(DecimalType(12, 2)) *
        lit(0.10).cast(DecimalType(4, 2))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("widget"))
            .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(revenueTerm).cast("double") - sum(costTerm).cast("double")).as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    }),

    // TPC-H Q11 shape (important stock; lineitem revenue stands in for
    // partsupp value): parts whose positive-balance-supplier revenue
    // exceeds 1.5x the MEAN per-part value (balance stands in for Q11's
    // nation gate — a single nation can be empty at the smallest test SF;
    // mean-relative beats Q11's fixed fraction, which degenerates when the
    // part count scales with the data). The threshold is a 1-row
    // broadcast; both the per-part values and the global total come from
    // the SAME exact decimal sum (never a re-sum of per-part doubles,
    // which would be order-dependent), and the threshold expression
    // (total / nparts) * 1.5 is evaluated in the same operation order on
    // both engines.
    "q_tpch_q11" -> ((s, d) => {
      val natSupp = Tables.supplier(s, d)
        .filter(col("s_acctbal") > 0.0)
        .select("s_suppkey")
      val filtered = Tables.lineitem(s, d)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      val vals = filtered.groupBy("l_partkey")
        .agg(sum(revenueTerm).cast("double").as("value"))
      val thr = filtered.agg((sum(revenueTerm).cast("double") /
        countDistinct("l_partkey") * lit(1.5)).as("thr"))
      vals.crossJoin(broadcast(thr))
        .filter(col("value") > col("thr"))
        .select("l_partkey", "value")
        .orderBy(desc("value"), asc("l_partkey"))
    }),

    // TPC-H Q13 (customer distribution): orders-per-customer histogram
    // including zero-order customers — the left-outer + count(non-null)
    // two-level aggregate. The priority exclusion stands in for the
    // missing o_comment filter. Both aggregates partial-aggregate
    // map-side; the second one runs over |customers| rows only.
    "q_tpch_q13" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep the
    // max. The classic view + scalar-subquery pair becomes one aggregate
    // reused for both the values and the 1-row broadcast max — Q11's
    // pattern with max instead of a fraction. Equality on DOUBLE is safe
    // because both sides are the same exact-decimal-cast value.
    "q_tpch_q15" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(sum(revenueTerm).cast("double").as("total_revenue"))
      val mx = rev.agg(max("total_revenue").as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q20 shape (dominant suppliers; availqty>half-of-shipped
    // becomes shipped-more-than-half-of-the-part's-total): for 'small*'
    // parts in 1996, suppliers covering >50% of a part's volume. The
    // per-part total rides a window over the already-aggregated
    // (part, supplier) rows — state-sized, never the raw fact. Quantities
    // are integral doubles, so sums and the *0.5 compare are exact.
    "q_tpch_q20" -> ((s, d) => {
      val perSupp = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(Tables.part(s, d).filter(col("p_name").startsWith("small"))
            .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("supp_qty"))
      val major = perSupp
        .withColumn("part_qty", sum("supp_qty").over(Window.partitionBy("l_partkey")))
        .filter(col("supp_qty") > col("part_qty") * 0.5)
        .select("l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(broadcast(major), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    }),

    // bucketized range join (point-in-interval): each purchase counts the
    // OTHER users whose same-hour activity span [min ts, max ts] contains
    // it. The interval side is keyed by the hour bucket its endpoints
    // share (spans are built per (user, hour), so no interval ever crosses
    // its bucket) — the non-equi containment predicate rides a plain
    // equi-shuffle on hr instead of a cross product, which is exactly how
    // a range join stays linear at 100 TB: candidates per row are bounded
    // by bucket occupancy, not table size. LEFT join keeps zero-overlap
    // purchases. Timestamps compare in µs (ts div 1000) — the nanos-vs-µs
    // parity rule for the TIMESTAMP_NS events column.
    "q_range_join" -> ((s, d) => {
      val spans = Tables.events(s, d)
        .select(col("user_id").as("s_user"), expr("ts div 1000").as("s_us"),
          expr("ts div 3600000000000").as("s_hr"))
        .groupBy("s_user", "s_hr")
        .agg(min("s_us").as("t0"), max("s_us").as("t1"))
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("t_us"),
          expr("ts div 3600000000000").as("hr"))
        .join(spans, col("hr") === col("s_hr") &&
          col("t_us") >= col("t0") && col("t_us") <= col("t1") &&
          col("s_user") =!= col("user_id"), "left_outer")
        .groupBy("event_id", "user_id", "t_us")
        .agg(count(col("s_user")).as("n_concurrent"))
        .orderBy("event_id")
    }),

    // cumulative distinct users ("users acquired to date"): the classic
    // COUNT(DISTINCT) OVER — not directly computable as a window — done
    // the scalable way: first-seen hour per user (one shuffle), new-user
    // counts per hour, then a running sum over the tiny hour axis.
    "q_window_cumdistinct" -> ((s, d) => {
      val firstSeen = Tables.events(s, d)
        .groupBy("user_id")
        .agg(min(expr("ts div 3600000000000")).as("hour"))
      firstSeen.groupBy("hour").agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users",
          sum("new_users").over(Window.orderBy("hour")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("hour")
    }),

    // last-touch attribution: each purchase credits the user's most recent
    // PRIOR click — a conditional last_value(IGNORE NULLS) over the
    // user-ordered event stream, evaluated in one pass with no self-join
    // (the naive formulation joins purchases against clicks and re-ranks).
    "q_events_attribution" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("attributed_click",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "attributed_click")
        .orderBy("event_id")
    }),

    // RFM customer scoring: recency/frequency/monetary per buyer, each
    // bucketed into quintiles. ntile is deterministic because every
    // ordering carries the unique user_id tiebreak; the monetary sum runs
    // in DECIMAL. The three global windows sort only the per-user
    // aggregate (|users| rows), not the event stream.
    "q_events_rfm" -> ((s, d) => {
      val m = Tables.events(s, d).filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(
          max(expr("ts div 86400000000000")).as("recency_day"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("monetary"))
      m.withColumn("r_tile",
          ntile(5).over(Window.orderBy("recency_day", "user_id")).cast("long"))
        .withColumn("f_tile",
          ntile(5).over(Window.orderBy("frequency", "user_id")).cast("long"))
        .withColumn("m_tile",
          ntile(5).over(Window.orderBy("monetary", "user_id")).cast("long"))
        .orderBy("user_id")
    }),

    // exact per-group mode (most frequent value, smallest-value tie-break):
    // two-level aggregate — count per (group, value), then rank within
    // group. The value-level aggregate partial-aggregates map-side, so the
    // shuffle carries (group, value) pairs, not raw rows.
    "q_agg_mode" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy(desc("cnt"), asc("l_quantity"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("mode_qty"), col("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // 2-D skyline (Pareto frontier): parts where no other part is cheaper-
    // and-smaller. O(n log n) instead of the naive O(n²) self-join: sort
    // by integer price-cents, then a row is dominated iff the running min
    // of size over STRICTLY cheaper rows reaches its size, or over
    // price-peers-inclusive goes strictly below it. Prices are 2-dp, so
    // cents are exact integers and the RANGE frames work in both engines.
    "q_skyline" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_size"),
        col("p_retailprice"),
        round(col("p_retailprice") * 100).cast("long").as("cents"))
      val wStrict = Window.orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wIncl = Window.orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      p.withColumn("m_strict", min("p_size").over(wStrict))
        .withColumn("m_incl", min("p_size").over(wIncl))
        .filter(!(coalesce(col("m_strict") <= col("p_size"), lit(false)) ||
          col("m_incl") < col("p_size")))
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    }),

    // date arithmetic: day differences and interval offsets (midnight-
    // aligned timestamps, so day-boundary counting agrees across engines)
    "q_time_arith" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 500)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("ship_lag_days"),
          date_format(date_add(col("o_orderdate"), 90), "yyyy-MM-dd").as("due"))
        .orderBy("l_orderkey", "l_linenumber")),

    // RANGE-frame window: rolling quantity over an order-key *value* range
    // per supplier (RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW). Peers
    // (equal order keys) all join the frame, so the sum is deterministic
    // under any tie order; l_quantity is integral-valued, so double sums
    // are exact in any addition order.
    "q_window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey").orderBy("l_orderkey")
        .rangeBetween(-1000, Window.currentRow)
      Tables.lineitem(s, d).filter(col("l_suppkey") <= 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("roll_qty", sum("l_quantity").over(w))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    // Context-window packing: assign documents to fixed-size training bins
    // (ContextTokens BPE-ish tokens) by running token count within each
    // source shard. Packing is inherently sequential, so the scale design
    // shards first (partitionBy source — shards pack in parallel, one
    // window sort each) and keeps the sequential scan inside the shard;
    // a 100 TB corpus packs per source/date shard exactly like this.
    "q_pack_contexts" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), expr(wordsSpark("text")).as("ws"))
        .select(col("doc_id"), col("source"),
          expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + (length(w) + 3) div 4)")
            .as("toks"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      toks
        .withColumn("cum_before", coalesce(sum("toks").over(w), lit(0L)))
        .select(col("source"), col("doc_id"), col("toks"),
          expr(s"cum_before div $ContextTokens").as("bin"))
        .orderBy("source", "doc_id")
    }),

    // ANALYZE-style table profile: per-column row/null/distinct counts and
    // min/max — the first query run against any new 100 TB dataset. ALL
    // columns profile in ONE scan: a single aggregate computes every
    // column's stats (the multi-distinct plans as one Expand pass, not N
    // re-scans), then an inline explode pivots the wide row into the long
    // (column, stats) catalog shape. min/max stringified through
    // DECIMAL/date_format so both engines render identically.
    "q_table_profile" -> ((s, d) => {
      val cols: Seq[(String, Column => Column)] = Seq(
        ("o_orderkey", identity[Column] _),
        ("o_custkey", identity[Column] _),
        ("o_totalprice", (c: Column) => c.cast(DecimalType(18, 2))),
        ("o_orderdate", (c: Column) => date_format(c, "yyyy-MM-dd")))
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (cn, mm) => Seq(
        count(col(cn)).as(s"nn_$cn"),
        countDistinct(col(cn)).as(s"nd_$cn"),
        min(mm(col(cn))).cast("string").as(s"mn_$cn"),
        max(mm(col(cn))).cast("string").as(s"mx_$cn")) }
      val wide = Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      val rows = cols.map { case (cn, _) => struct(
        lit(cn).as("col_name"), col("n_rows"),
        col(s"nn_$cn").as("n_nonnull"), col(s"nd_$cn").as("n_distinct"),
        col(s"mn_$cn").as("min_v"), col(s"mx_$cn").as("max_v")) }
      wide.select(explode(array(rows: _*)).as("p"))
        .select("p.col_name", "p.n_rows", "p.n_nonnull", "p.n_distinct",
          "p.min_v", "p.max_v")
        .orderBy("col_name")
    }),

    // Data-quality audit: referential integrity (orphan facts), primary-key
    // uniqueness, null-rate — the constraint checks a pipeline runs before
    // promoting a snapshot. Each check is one keyed anti-join or aggregate;
    // the outputs union into (check, n) rows.
    "q_dq_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val orphans = li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("orphan_lineitems").as("check"), col("n"))
      val dupPk = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)).as("n"))
        .select(lit("duplicate_order_pk").as("check"), col("n"))
      val nullKeys = o.filter(col("o_custkey").isNull)
        .agg(count(lit(1)).as("n")).select(lit("null_custkey").as("check"), col("n"))
      orphans.unionByName(dupPk).unionByName(nullKeys).orderBy("check")
    }),

    // Date-spine gap filling (resampling): per user, one row for EVERY day
    // between first and last activity, zero-filled where no events landed —
    // the densification step before any time-series model. The spine is a
    // per-row sequence explode (no driver loop, no cross join with a
    // calendar table); day arithmetic is integer floor division of the
    // epoch on both engines.
    "q_time_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("user_id") < 30)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "day")
    }),

    // Small-group suppression (k-anonymity release screen): publish only
    // (lang, source) cells with n >= k; everything rarer collapses into one
    // 'other' bucket so no released row isolates a small cohort. One tiny
    // agg over grouped counts — the shape of every privacy-gated stats
    // release over a 100 TB corpus.
    "q_kanon_suppress" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val kept = g.filter(col("n") >= KanonK)
      val suppressed = g.filter(col("n") < KanonK)
        .agg(coalesce(sum("n"), lit(0L)).as("n"))
        .select(lit("other").as("lang"), lit("other").as("source"), col("n"))
      kept.unionByName(suppressed).orderBy("lang", "source")
    }),

    // Robust outlier screen via median/MAD (resistant to the outliers a
    // mean/stddev z-score would absorb): per group, median, median absolute
    // deviation, and the count beyond 3 MADs. Quantities are integral
    // doubles, so the interpolated percentiles and the 3*mad comparison
    // are exact on both engines. Two grouped-percentile passes + one
    // broadcast join of the k-row stats back onto the scan.
    "q_outlier_mad" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
      val med = li.groupBy("l_returnflag").agg(expr("percentile(l_quantity, 0.5)").as("med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_quantity") - col("med")))
      val stats = dev.groupBy("l_returnflag")
        .agg(first("med").as("med"), expr("percentile(adev, 0.5)").as("mad"),
          count(lit(1)).as("n"))
      dev.join(broadcast(stats.select("l_returnflag", "mad")), "l_returnflag")
        .filter(col("adev") > lit(3.0) * col("mad"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_out"))
        .join(stats, Seq("l_returnflag"), "right_outer")
        .select(col("l_returnflag"), col("med"), col("mad"),
          coalesce(col("n_out"), lit(0L)).as("n_out"), col("n"))
        .orderBy("l_returnflag")
    }),

    // fixed-width histogram — the distribution-profiling primitive (one
    // scan, one tiny agg; the first question asked of any new 100 TB
    // column). Bucket arithmetic is a single double division + floor,
    // identical on both engines.
    "q_histogram" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy((floor(col("o_totalprice") / 20000.0) * 20000).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n"),
          dsum("o_totalprice").as("mass"))
        .orderBy("bucket_lo")),

    // explicit GROUPING SETS (the general form behind rollup/cube, which
    // the catalog already covers): two chosen groupings in one pass plus
    // grouping() flags to disambiguate the null-means-total rows
    "q_agg_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
                      sum(l_quantity) AS sum_qty,
                      CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                      CAST(grouping(l_linestatus) AS BIGINT) AS g_status
               FROM graft_li_gs
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
               ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // array function family surfaced as a query (sort/slice/contains/
    // distinct-count over per-order part lists); arrays canonicalized by
    // sort, then emitted as joined strings — the driver's comparator can
    // only hash scalar columns (list-typed output crashed its sort in r03)
    "q_array_funcs" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 300)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("pa"))
        .select(col("l_orderkey"),
          array_join(col("pa").cast("array<string>"), ",").as("parts"),
          array_join(slice(col("pa"), 1, 3).cast("array<string>"), ",").as("first3"),
          size(array_distinct(col("pa"))).cast("long").as("n_uniq"),
          array_contains(col("pa"), 1).cast("long").as("has_p1"),
          element_at(col("pa"), -1).as("last_part"))
        .orderBy("l_orderkey")),

    // argmin/argmax aggregates: the ordering key is made UNIQUE (date
    // millis + orderkey) so min_by/arg_min tie-break identically
    "q_agg_minby" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("ord",
          (unix_timestamp(col("o_orderdate")) * 1000000L + col("o_orderkey")).as("ord"))
        .groupBy("o_custkey")
        .agg(min_by(col("o_orderkey"), col("ord")).as("first_order"),
          max_by(col("o_orderkey"), col("ord")).as("last_order"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")),

    // regex extraction/matching (group capture, replace, predicate) —
    // identical semantics in Java regex and RE2 for these ASCII patterns
    "q_regex_extract" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_name").rlike("^[a-z]+ ").cast("long").as("startsword"))
        .orderBy("p_partkey")),

    // rank-ratio analytics: percent_rank/cume_dist are peer-stable (every
    // tie gets the same value), so they are deterministic even under
    // order-by ties; the values are single int-ratio divisions
    "q_window_ratio" -> ((s, d) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      Tables.lineitem(s, d).filter(col("l_orderkey") < 300)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    }),

    // unpivot/melt (the inverse of q_agg_pivot): wide per-flag aggregates
    // to long (flag, metric, value) triples — schema normalization for
    // metric stores; values unify to DOUBLE as unpivot requires
    "q_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_price"),
          count(lit(1)).cast("double").as("n"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n")), "metric", "value")
        .orderBy("l_returnflag", "metric")),

    // null-handling family over genuinely null-bearing outer-join output:
    // coalesce / nullif / null-flag (absent from the reference beyond
    // Option.getOrElse — SURVEY §2.8)
    "q_null_funcs" -> ((s, d) => {
      val cnts = Tables.orders(s, d).groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      Tables.customer(s, d)
        .join(cnts, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          coalesce(col("cnt"), lit(0L)).as("cnt0"),
          nullif(coalesce(col("cnt"), lit(0L)), lit(0L)).as("cnt_nz"),
          col("cnt").isNull.cast("long").as("missing"))
        .orderBy("c_custkey")
    }),

    // first/last/nth analytic functions with an explicit full frame —
    // last_value over the default frame is the classic silent-wrong-answer;
    // the unbounded frame plus a unique order makes it deterministic
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(s, d).filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          first("l_quantity").over(w).as("first_qty"),
          last("l_quantity").over(w).as("last_qty"),
          nth_value(col("l_quantity"), 2).over(w).as("second_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    // Levenshtein edit distance between neighboring documents' prefixes —
    // the character-level fuzzy-match verifier (both engines implement
    // unit-cost Levenshtein, so distances are exact integers)
    "q_text_editdist" -> ((s, d) => {
      val a = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("ta"))
      val b = Tables.documents(s, d)
        .select((col("doc_id") - 1).as("doc_id"), substring(col("text"), 1, 60).as("tb"))
      a.join(b, "doc_id")
        .select(col("doc_id"), levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
        .orderBy("doc_id")
    }),

    // Edit-distance similarity JOIN (ops/EditJoin): every customer-name
    // pair within levenshtein 1, found by a deletion-neighborhood
    // equi-join (FastSS) — never the all-pairs relation. Bucket sizes
    // are structurally bounded at (L+1)·|Σ|+1, so the plan needs no cap
    // or salt at any corpus size; the exact verify restores precision
    // over the (distance ≤ 2) candidates. Customer names are zero-padded
    // serials, so one-digit-substitution neighbors are dense — a
    // realistic near-miss-identifier dedup shape.
    "q_text_editjoin" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin1(Tables.customer(s, d), "c_custkey", "c_name")
        .orderBy("id1", "id2")),

    // the duplicate-safe twin: exact-duplicate names collapse before the
    // blocked join and pairs carry integer multiplicities — output
    // bounded in DISTINCT names (the 4.6x duplicate-identity sweep
    // regime, closed by restating the result instead of capping it)
    "q_text_editjoin_grouped" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin1Grouped(Tables.customer(s, d),
          "c_custkey", "c_name")
        .orderBy("rep1", "rep2")),

    // Sorted-neighborhood blocking (ops/SortedNeighborhood): every
    // record paired with its 4 successors in (name, id) sort order —
    // n·(w-1) candidates by construction. The global rank is the
    // scale-safe distributed form (range partition + offset broadcast +
    // within-partition window); PlanSpec asserts the naive
    // one-task-global-sort plan (Exchange SinglePartition) never appears.
    "q_dedup_sorted_block" -> ((s, d) =>
      graft.ops.SortedNeighborhood.pairs(Tables.customer(s, d),
          "c_custkey", "c_name", 5)
        .orderBy("id1", "id2")),

    // FastSS at k = 2 (r13 verdict item 3): every pair within levenshtein
    // 2 via the depth-≤2 deletion neighborhood — candidate-complete by
    // the same pigeonhole argument, with the fan-out priced BEFORE the
    // join (the budget guard measures Σcnt² over variant buckets — 10.3M
    // here — and refuses past 2e8). Domain: the dense serial PREFIX
    // custkey ≤ 4000 — keeps the near-miss density that makes the face
    // meaningful while bounding the (quadratic-in-density) pair output;
    // sf0.01 is unrestricted (1,500 < 4,000).
    "q_text_editjoin2" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin2(
          Tables.customer(s, d).filter(col("c_custkey") <= 4000),
          "c_custkey", "c_name")
        .orderBy("id1", "id2")),

    // the duplicate-safe grouped twin at k = 2 (multiplicities, output
    // bounded in DISTINCT names — the pairsWithin1Grouped restatement)
    "q_text_editjoin2_grouped" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin2Grouped(
          Tables.customer(s, d).filter(col("c_custkey") <= 4000),
          "c_custkey", "c_name")
        .orderBy("rep1", "rep2")),

    // Incremental edit join (r13 verdict item 4a): the odd-custkey batch
    // merges into the even-custkey corpus via its STORED variant index +
    // stored pairs — batch-vs-(index ∪ batch), never existing-vs-
    // existing. Union-replay oracle: the output must equal the flat
    // pairsWithin1 over ALL customers (shares q_text_editjoin's SQL
    // verbatim), which is the family's restriction-equality contract.
    "q_text_editjoin_inc" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val existing = c.filter(col("c_custkey") % 2 === 0)
      val incoming = c.filter(col("c_custkey") % 2 === 1)
      val idx = graft.ops.EditJoin.variantIndex(existing, "c_custkey", "c_name")
      val stored = graft.ops.EditJoin.pairsWithin1(existing, "c_custkey", "c_name")
      graft.ops.EditJoin.incrementalPairsWithin1(idx, stored, incoming,
          "c_custkey", "c_name")
        .orderBy("id1", "id2")
    }),

    // k=2 incremental twin over the stored depth-≤2 index — the same
    // union-replay contract at distance 2 (shares q_text_editjoin2's
    // flat SQL verbatim); catalog+verify-only (the editjoin2 family
    // already holds three bench seats — an isolated band is recorded in
    // BASELINE instead, the ktruss-dense precedent)
    "q_text_editjoin2_inc" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") <= 4000)
      val existing = c.filter(col("c_custkey") % 2 === 0)
      val incoming = c.filter(col("c_custkey") % 2 === 1)
      val idx = graft.ops.EditJoin.variant2Index(existing, "c_custkey", "c_name")
      val stored = graft.ops.EditJoin.pairsWithin2(existing, "c_custkey", "c_name")
      graft.ops.EditJoin.incrementalPairsWithin2(idx, stored, incoming,
          "c_custkey", "c_name")
        .orderBy("id1", "id2")
    }),

    // Incremental sorted-neighborhood (r13 verdict item 4b): the
    // odd-custkey batch rank-merges into the even-custkey corpus's
    // stored ranked state — boundary routing + touched-pid local windows
    // + broadcast offsets, NO global re-rank (the whole-corpus sort
    // never re-runs); stored pairs re-gap (insertions can evict them
    // from the window), new pairs come from a banded incoming-vs-all
    // rank join. Union-replay oracle: equals pairs(all customers, 5) —
    // shares q_dedup_sorted_block's SQL verbatim.
    "q_dedup_sorted_block_inc" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val existing = c.filter(col("c_custkey") % 2 === 0)
      val incoming = c.filter(col("c_custkey") % 2 === 1)
      val state = graft.ops.SortedNeighborhood.rankedState(existing,
        "c_custkey", "c_name")
      val stored = graft.ops.SortedNeighborhood.pairs(existing,
        "c_custkey", "c_name", 5)
      graft.ops.SortedNeighborhood.incrementalPairs(state, stored, incoming,
          "c_custkey", "c_name", 5)
        .orderBy("id1", "id2")
    }),

    // The DEPLOYMENT-layout twin (r14 verdict item 1): the existing
    // corpus's ranked state is PERSISTED partitioned by pid plus its
    // tiny boundary directory (writeRankedState — the cluster-
    // partitioned ANN precedent), and a 1-in-10 batch (steady-state
    // convention) merges via incrementalPairsFromStore: the boundary
    // parquet replaces the full-state aggregate and every state access
    // carries a pid isin filter the layout turns into directory-level
    // pruning (SortedNeighborhoodSpec meters an append batch reading a
    // sliver of the corpus). Same union-replay oracle — shares
    // q_dedup_sorted_block's SQL verbatim.
    "q_dedup_sorted_block_inc_idx" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val existing = c.filter(col("c_custkey") % 10 =!= 0)
      val incoming = c.filter(col("c_custkey") % 10 === 0)
      // write-INCLUSIVE pricing by design (state build + round-trip stay
      // in the clock); one per-process scratch dir, overwritten each run
      // instead of accumulating /tmp copies (r15 ADVICE) — the read-only
      // steady-state decomposition is q_dedup_sorted_block_idx_ro
      val dir = snIdxRwScratch + "/state"
      graft.ops.SortedNeighborhood.writeRankedState(existing,
        "c_custkey", "c_name", dir)
      val stored = Fixpoint.materializedLeaf(graft.ops.SortedNeighborhood.pairs(existing,
          "c_custkey", "c_name", 5)) // persisted at prior-ingest time
      graft.ops.SortedNeighborhood.incrementalPairsFromStore(s, dir, stored,
          incoming, "c_custkey", "c_name", 5)
        .orderBy("id1", "id2")
    }),

    // The read-only fold decomposition (r15 verdict item 3): the SAME
    // 1-in-10 steady-state fold as q_dedup_sorted_block_inc_idx, but the
    // store is built ONCE per process (outside the clock, memoized per
    // sf dir) — so this face prices the pure fold-over-stored-layout
    // seconds, and the _inc_idx band minus this band IS the state
    // write/round-trip cost the r15 baseline could not separate. Same
    // union-replay oracle verbatim.
    "q_dedup_sorted_block_idx_ro" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val incoming = c.filter(col("c_custkey") % 10 === 0)
      val (dir, stored) = snIdxRoStore(s, d)
      graft.ops.SortedNeighborhood.incrementalPairsFromStore(s, dir, stored,
          incoming, "c_custkey", "c_name", 5)
        .orderBy("id1", "id2")
    }),

    // Auto-routed edit join (r13 verdict stretch item 8): one 16 B/row
    // duplication probe (rows vs distinct names) picks exploded vs
    // grouped execution; output is always the grouped schema, so the
    // route is invisible downstream. Customer names are duplicate-free
    // (ratio 1.0) → the exploded path runs here with n_pairs = 1; the
    // grouped branch fires on duplicate-heavy corpora (spec-pinned).
    "q_text_editjoin_auto" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin1Auto(Tables.customer(s, d),
          "c_custkey", "c_name")
        .orderBy("rep1", "rep2")),

    // The stored-index steady-state twin (r14 verdict item 4): a 1-in-10
    // batch folds over the MATERIALIZED variant index + stored pairs —
    // the q_dedup_substring_inc_idx convention, separating steady-state
    // pricing (only the batch is ever variant-expanded; the index build
    // is one checkpointed pass) from the 50/50 equality-contract clock
    // of q_text_editjoin_inc. Same flat union-replay oracle verbatim.
    "q_text_editjoin_idx" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val existing = c.filter(col("c_custkey") % 10 =!= 0)
      val incoming = c.filter(col("c_custkey") % 10 === 0)
      // persisted at prior-ingest time
      val idx = Fixpoint.materializedLeaf(
        graft.ops.EditJoin.variantIndex(existing, "c_custkey", "c_name"))
      val stored = Fixpoint.materializedLeaf(
        graft.ops.EditJoin.pairsWithin1(existing, "c_custkey", "c_name"))
      graft.ops.EditJoin.incrementalPairsWithin1(idx, stored, incoming,
          "c_custkey", "c_name")
        .orderBy("id1", "id2")
    }),

    // k=2 auto route (r14 verdict item 4): the duplication probe picks
    // exploded vs grouped at distance 2 with the Σcnt² budget folded
    // into both routes; dup-free serials take the exploded path with
    // n_pairs = 1 (spec pins the grouped branch + the budget pass-
    // through on a duplicate-heavy fixture). Catalog+verify-only — the
    // editjoin2 family's bench budget stays with the exploded/inc seats.
    "q_text_editjoin2_auto" -> ((s, d) =>
      graft.ops.EditJoin.pairsWithin2Auto(
          Tables.customer(s, d).filter(col("c_custkey") <= 4000),
          "c_custkey", "c_name")
        .orderBy("rep1", "rep2")),

    // Multi-pass sorted neighborhood (r13 verdict item 6): a second
    // blocking pass on the REVERSED name catches near-misses that
    // diverge in the first character (invisible to a prefix-sorted
    // window — the standard SN recall repair); candidate union, dedup on
    // the unordered pair, n_passes in-band. SortedNeighborhoodSpec pins
    // a fixture where a prefix-divergent near-miss is caught ONLY by
    // pass 2.
    "q_dedup_sorted_block2" -> ((s, d) =>
      graft.ops.SortedNeighborhood.pairsMultiKey(
          Tables.customer(s, d).withColumn("rname", reverse(col("c_name"))),
          "c_custkey", Seq("c_name", "rname"), 5)
        .orderBy("id1", "id2")),

    // Semi-structured extraction: pull a typed field out of a JSON props
    // column at scan time and aggregate on it — the schema-on-read path
    // for event payloads (get_json_object is codegen'd; at 100 TB the
    // alternative — exploding props into a wide schema at ingest — costs a
    // rewrite of the corpus).
    "q_events_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // Sequential funnel (view -> click -> purchase): each stage's earliest
    // qualifying time must follow the previous stage's — three stage-sized
    // aggregations chained by equi-joins, no window over the whole event
    // stream. Timestamps compare in microseconds on both engines (the
    // nanos column truncates — see the events gotcha in RelQueries).
    "q_events_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      // v and c each feed the next stage AND the final report join — the
      // user-sized stage aggregates are checkpointed lazily (r16) so each
      // funnel stage scans the event log exactly once (was: the v/c legs
      // re-derived per consumer — 12 corpus scans in the plan, now 3)
      val v = Fixpoint.lazyLeaf(ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t_v")))
      val c = Fixpoint.lazyLeaf(ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts_us") > col("t_v"))
        .groupBy("user_id").agg(min("ts_us").as("t_c")))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts_us") > col("t_c"))
        .groupBy("user_id").agg(min("ts_us").as("t_p"))
      v.join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .agg(count(lit(1)).as("n_view"), count("t_c").as("n_click"),
          count("t_p").as("n_purchase"))
        .orderBy("n_view") // single row; total-ORDER-BY rule kept literal
    }),

    // CDC latest-state compaction: collapse an append-only event log to
    // one current row per key (the materialize step of any upsert/merge
    // pipeline). One hash-partitioned window per key, no global sort; at
    // 100 TB this is the nightly "snapshot the change stream" job and its
    // shuffle is keyed on user_id alone. Ordering is (µs, event_id) on
    // BOTH engines: DuckDB truncates the nanos column to µs, so ordering
    // by raw nanos would tie-break differently.
    "q_events_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
        .orderBy("user_id")
    }),

    // the hot-user-safe twin of q_events_latest: latest-per-key as ONE
    // max(struct) aggregate instead of a row_number window — map-side
    // partial aggregation collapses a bot user's slice to one partial per
    // task BEFORE the shuffle, where the window formulation must move and
    // sort the whole hot partition on one task. struct comparison orders
    // (ts_us, event_id) first, exactly the window's DESC/DESC argmax;
    // event_id is unique so the payload fields never decide. SAME oracle
    // SQL as q_events_latest — the plan equivalence is hash-certified.
    "q_events_latest_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"), col("value"))
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"),
          col("event_type"), col("value"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"),
          col("m.ts_us").as("ts_us"), col("m.event_type").as("event_type"),
          col("m.value").as("value"))
        .orderBy("user_id")),

    // Market-basket co-occurrence ("frequently bought together"): project
    // the order-part bipartite graph onto part-part edges weighted by
    // co-purchase count, top-k by support. The self-join fans out
    // Σ_orders (parts-per-order choose 2) — bounded by basket size (~7
    // lines), NOT corpus size, so it scales linearly; a pathological mega-
    // basket is the AQE skew-join case. Same ordered-pair trick as the
    // wedge joins (p1 < p2 counts each pair once).
    "q_copurchase" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
      li.toDF("o", "p1").join(li.toDF("o2", "p2"),
          col("o") === col("o2") && col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), col("p1"), col("p2"))
        .limit(100)
    }),

    // Trailing-window anomaly screen: per (event_type, day), flag days
    // whose count exceeds mean + 2σ of the trailing 7 OBSERVED days
    // (a ROWS frame — when days are missing it reaches further back in
    // calendar time; never includes the current day, so no self-masking).
    // Determinism without a blessed
    // stddev: the window aggregates Σx and Σx² of integer counts (exact in
    // any order), variance is one rational expression of those, and sqrt
    // is IEEE exact-rounded — so both engines produce bit-identical flags.
    "q_events_anomaly" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("k", count("n").over(w))
        .withColumn("sx", sum("n").over(w))
        .withColumn("sxx", sum(col("n") * col("n")).over(w))
        .filter(col("k") >= 2)
        .withColumn("mean", col("sx").cast("double") / col("k"))
        .withColumn("sd", sqrt((col("k") * col("sxx") - col("sx") * col("sx"))
          .cast("double") / (col("k") * (col("k") - 1))))
        .select(col("event_type"), col("day"), col("n"), col("k"),
          round(col("mean"), 6).as("mean"), round(col("sd"), 6).as("sd"),
          (col("n") > col("mean") + lit(2.0) * col("sd")).cast("long").as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // SCD2 history build: turn an append-only change stream into validity
    // intervals — each event's state is valid from its timestamp until the
    // user's next event (NULL = still current). One keyed window with
    // lead(); the dimension-table history pattern every warehouse carries.
    "q_events_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts_us"), asc("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"))
        .withColumn("valid_to", lead("ts_us", 1).over(w))
        .withColumn("is_current", col("valid_to").isNull.cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_us").as("valid_from"),
          col("valid_to"), col("is_current"), col("event_type"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // Exact heavy hitters with a CMS prune (ops.HeavyHitters): the sketch
    // pass bounds memory at any key cardinality, the exact pass recounts
    // only candidate keys — the oracle equality with the plain
    // GROUP BY ... HAVING proves the prune is exactness-preserving.
    "q_heavy_hitters" -> ((s, d) =>
      graft.ops.HeavyHitters.heavyHitters(Tables.orders(s, d), "o_custkey", threshold = 18L)
        .orderBy("o_custkey")),

    // the Misra–Gries-pruned route (r14 verdict stretch item 9): per-
    // partition summaries of size N/T+1 (bounded-heap-capped BEFORE the
    // exchange) merge into one retention-guaranteed candidate set that
    // broadcasts back as a semi-join prune — identical exact output,
    // shuffle carries counter rows instead of candidate rows, no per-row
    // hashing, no eps/confidence sizing. Shares q_heavy_hitters' oracle
    // verbatim (the identical-output claim IS the hash equality).
    "q_heavy_hitters_mg" -> ((s, d) =>
      graft.ops.HeavyHitters.heavyHittersMg(Tables.orders(s, d), "o_custkey",
          threshold = 18L)
        .orderBy("o_custkey")),

    // End-to-end training-data preparation — the full pre-training intake
    // in ONE plan: blocklist redaction -> quality gate -> exact dedup on
    // the redacted fingerprint -> content-hash train/val/test split ->
    // context packing per (split, source) shard. Tokenization happens once
    // (shared `ws` projection feeds the gate and the token counts); the
    // only shuffles are the dedup window on fp and the per-shard packing
    // windows — each hash-partitioned, nothing global.
    "q_prep_training" -> ((s, d) => {
      import graft.pipeline.TextAnalysis
      val masked = Tables.documents(s, d).select(col("doc_id"), col("source"),
        regexp_replace(col("text"), TextAnalysis.blocklistPattern,
          TextAnalysis.RedactMask).as("rtext"))
      val scored = masked
        .select(col("doc_id"), col("source"), expr(wordsSpark("rtext")).as("ws"),
          graft.functions.GraftFunctions.polyHash(col("rtext")).as("fp"))
        .select(col("doc_id"), col("source"), col("fp"),
          size(col("ws")).cast("long").as("n_words"),
          expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + (length(w) + 3) div 4)")
            .as("toks"))
        .filter(col("n_words") >= 20)
      val dedupW = Window.partitionBy("fp").orderBy("doc_id")
      val deduped = scored.withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1)
      val withSplit = deduped.withColumn("split",
        when(col("fp") % 10 < 8, "train")
          .when(col("fp") % 10 === 8, "val").otherwise("test"))
      val packW = Window.partitionBy("split", "source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      withSplit
        .withColumn("cum_before", coalesce(sum("toks").over(packW), lit(0L)))
        .select(col("split"), col("source"), col("doc_id"), col("toks"),
          expr(s"cum_before div $ContextTokens").as("bin"))
        .orderBy("split", "source", "doc_id")
    }),

    // First-order Markov transition matrix over per-user event sequences:
    // P(next event type | current) — the session model behind next-action
    // prediction and synthetic-session generation. One keyed window (lead)
    // + one hash aggregate; the probability is a single IEEE division of
    // two exact counts, so both engines emit identical doubles.
    "q_events_markov" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val rowTotal = Window.partitionBy("from_type")
      trans.withColumn("p", col("n").cast("double") / sum("n").over(rowTotal))
        .select("from_type", "to_type", "n", "p")
        .orderBy("from_type", "to_type")
    }),

    // Top-k 3-step user journeys ("view>click>purchase"): two stacked
    // leads over the same keyed window (Catalyst plans ONE sort), path
    // string as the group key — the clickstream pattern-mining staple.
    "q_events_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("event_type"))
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(20)
    }),

    // OHLC downsampling: per (user, day) open/high/low/close over the
    // value stream — the time-series resampler (finance bars, sensor
    // rollups). open/close ride an explicit unbounded frame with a unique
    // (ts_us, event_id) order, so they are deterministic under ties; the
    // day total runs in DECIMAL (money-sum policy).
    // gaps-and-islands: each event opens a deterministic 1-10 minute
    // interval; overlapping/touching intervals per user merge into
    // maximal disjoint spans (availability/outage-merge semantics)
    "q_interval_coalesce" -> ((s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        expr("ts div 1000000").as("s_ms"),
        (expr("ts div 1000000") + (lit(1L) + col("event_id") % 10) * 60000L).as("e_ms"))
      graft.ops.Intervals.coalesce(iv, "user_id", "s_ms", "e_ms")
        .orderBy("user_id", "island")
    }),

    "q_time_downsample" -> ((s, d) => {
      val wf = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          expr("ts div 86400000000000").as("day"), col("value"))
        .withColumn("open", first("value").over(wf))
        .withColumn("close", last("value").over(wf))
        .groupBy("user_id", "day")
        .agg(min("open").as("open"), max("value").as("high"),
          min("value").as("low"), min("close").as("close"),
          count(lit(1)).as("n_events"), dsum("value").as("total_value"))
        .orderBy("user_id", "day")
    }),

    // Per-user exponential smoothing (EWMA, α = 1/2) over the trailing
    // EwmaWindow events — the online smoothed-feature shape. The fold
    // s' = (s + v)/2 from a zero start is a SEQUENTIAL per-element
    // recurrence, evaluated as one ordered array fold on both engines
    // (the sequential-dot determinism pattern): every step is one
    // correctly-rounded IEEE add + one exact halving, so the result is
    // bit-identical cross-engine. Bounding the fold to the trailing
    // window bounds per-user state at W rows — the hot-user hazard the
    // chunked sessionize family prices never materializes here.
    // per-type value-distribution profile via the mergeable HDR quantile
    // sketch (ops/QuantileSketch, the q_agg_quantile_merge machinery on
    // the events stream): hot-type-safe BY CONSTRUCTION — the shuffle
    // carries bucket histograms (<= 53·16 ints per type, map-side
    // partials absorb a hot type before the exchange), never events, so
    // the 25%-on-one-key log that forces the sessionize family's chunked
    // twin costs this plan nothing
    "q_events_quantile" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.sketch(ev, Seq("event_type"), "v"),
        Seq("event_type"), Seq(50, 90, 99))
        .orderBy("event_type")
    }),

    // Hierarchical distinct-user rollup — THE 100 TB telemetry shape:
    // per-(type, hour) HLL register tables (ops/Hll, ≤ 64 ints per cell
    // however many events land in the hour) are built ONCE from the
    // stream and max-merged up the time hierarchy to per-type totals;
    // the raw events are scanned exactly once and never re-touched for
    // the coarser level. hr = -1 marks the rollup rows. The oracle
    // computes BOTH levels' registers flat from the hashed relation, so
    // the hash equality proves the hierarchical merge (a per-day level
    // would compose identically — max is associative all the way up).
    "q_events_distinct_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("ts div 3600000000000").as("hr"), col("user_id"))
      val hourly = Fixpoint.materializedLeaf(graft.ops.Hll
        .registers(ev, Seq("event_type", "hr"), "user_id")) // built once, rolled twice
      graft.ops.Hll.estimate(hourly, Seq("event_type", "hr"))
        .unionByName(graft.ops.Hll
          .estimate(graft.ops.Hll.merge(hourly, Seq("event_type")),
            Seq("event_type"))
          .select(col("event_type"), lit(-1L).as("hr"), col("apx_parts")))
        .withColumnRenamed("apx_parts", "apx_users")
        .orderBy("event_type", "hr")
    }),

    "q_time_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= EwmaWindow)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("cents"))))
          .as("arr"))
        .select(col("user_id"), size(col("arr")).cast("long").as("n_events"),
          expr("aggregate(arr, CAST(0.0 AS DOUBLE), " +
            "(acc, x) -> (acc + CAST(x.cents AS DOUBLE)) / 2.0)").as("ewma_cents"))
        .orderBy("user_id")
    }),

    // Holt's linear-trend double smoothing (level + trend) over the same
    // trailing window, alpha = beta = 1/2: every fold step is IEEE adds,
    // one subtract, and exact halvings on an ARRAY-encoded (level, trend)
    // state — the two-field extension of the EWMA determinism argument
    // (array state, not struct: DuckDB 1.0's struct_pack-in-lambda aliases
    // the accumulator's just-computed fields — probed; list state folds
    // correctly). forecast_1 = level + trend is the one-step-ahead value.
    "q_time_holt" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= EwmaWindow)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("cents"))))
          .as("arr"))
        .select(col("user_id"), size(col("arr")).cast("long").as("n_events"),
          expr("aggregate(arr, array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), " +
            "(acc, x) -> array(((CAST(x.cents AS DOUBLE) + acc[0]) + acc[1]) / 2.0, " +
            "((((CAST(x.cents AS DOUBLE) + acc[0]) + acc[1]) / 2.0 - acc[0]) + acc[1]) / 2.0))")
            .as("st"))
        .select(col("user_id"), col("n_events"),
          col("st")(0).as("holt_level"), col("st")(1).as("holt_trend"),
          (col("st")(0) + col("st")(1)).as("forecast_1"))
        .orderBy("user_id")
    }),

    // One-sided CUSUM drift detection (Page 1954) over the trailing
    // window: s' = max(0, s + min(cents - target, clamp)), peak tracked in
    // the same fold via a radix-packed (max, s) BIGINT state — exact int64
    // end to end (see CusumRadix bound note), no float anywhere.
    "q_time_cusum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
      val step = s"greatest(CAST(0 AS BIGINT), acc % $CusumRadix + " +
        s"least(x.cents - $CusumTarget, $CusumClamp))"
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= EwmaWindow)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("cents"))))
          .as("arr"))
        .select(col("user_id"), size(col("arr")).cast("long").as("n_events"),
          expr(s"aggregate(arr, CAST(0 AS BIGINT), (acc, x) -> " +
            s"greatest(acc div $CusumRadix, $step) * $CusumRadix + $step)").as("packed"))
        .select(col("user_id"), col("n_events"),
          (col("packed") % CusumRadix).as("cusum_end"),
          expr(s"packed div $CusumRadix").as("cusum_max"),
          when(expr(s"packed div $CusumRadix") > CusumH, 1L).otherwise(0L).as("drifted"))
        .orderBy("user_id")
    }),

    // Association rules from order baskets: confidence = P(B|A) and
    // lift = P(AB)/(P(A)P(B)) for directed part pairs, top-100 by lift.
    // All scores are single IEEE divisions of exact int64 counts (the
    // basket counts are < 2^53, so the int->double conversions are exact
    // and both engines emit identical doubles, making the lift ordering
    // itself deterministic). Basket fan-out is bounded by basket size —
    // the same shuffle shape as q_copurchase, never all-pairs over parts.
    "q_assoc_rules" -> ((s, d) => {
      // the distinct basket relation feeds four consumers (total, support,
      // both self-join legs). r16 materialized it once (localCheckpoint);
      // the r17 decade sweep (BASELINE.md r17, Inflate 10x/100x) REVERTED
      // that: the relation is near-corpus-sized at TPC-H shape (distinct
      // pairs ≈ lineitem rows), and at 100x the checkpointed form ran
      // 42.2 s vs 28.7 s re-scan — row-block re-iteration for 4 consumers
      // loses to vectorized parquet re-scans + exchange reuse as data
      // grows (the r16 sketch-probe lesson), despite shuffling ~25% more
      // records. Same verdict at 1x (1.84 vs 2.16 s isolated).
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
      val tot = li.select(countDistinct("l_orderkey").as("n_t"))
      val supp = li.groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("n_p"))
      val pairs = li.toDF("o", "p1").join(li.toDF("o2", "p2"),
          col("o") === col("o2") && col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      val rules = pairs.select(col("p1").as("antecedent"), col("p2").as("consequent"), col("n_ab"))
        .unionByName(pairs.select(col("p2").as("antecedent"), col("p1").as("consequent"), col("n_ab")))
      rules
        .join(supp.toDF("antecedent", "n_ante"), "antecedent")
        .join(supp.toDF("consequent", "n_cons"), "consequent")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"), col("n_ab").as("n_both"),
          col("n_ante"),
          (col("n_ab").cast("double") / col("n_ante")).as("confidence"),
          ((col("n_t") * col("n_ab")).cast("double") / (col("n_ante") * col("n_cons")))
            .as("lift"))
        .orderBy(desc("lift"), col("antecedent"), col("consequent"))
        .limit(100)
    }),

    // Incremental view maintenance: the per-customer order metrics table,
    // maintained by folding the post-cutoff delta batch into the
    // pre-cutoff base aggregate (ops.IncrementalAgg) — history is never
    // rescanned. The oracle computes the full aggregate from scratch; the
    // hash equality IS the merge(agg(A), agg(B)) == agg(A ∪ B) proof.
    "q_agg_ivm" -> ((s, d) => {
      def partial(df: DataFrame) = df.groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"),
        min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("first_order"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("last_order"))
      val orders = Tables.orders(s, d)
      val base = partial(orders.filter(col("o_orderdate") < lit("1997-07-01")))
      val delta = partial(orders.filter(col("o_orderdate") >= lit("1997-07-01")))
      graft.ops.IncrementalAgg.merge(base, delta, keys = Seq("o_custkey"),
          counts = Seq("n_orders"), sums = Seq("total"),
          mins = Seq("first_order"), maxs = Seq("last_order"))
        .select(col("o_custkey"), col("n_orders"), col("total").cast("double").as("total"),
          col("first_order"), col("last_order"))
        .orderBy("o_custkey")
    }),

    // Pareto/concentration curve: top-100 customers by revenue with
    // cumulative revenue share (the 80/20 report). Deliberately NOT a
    // global running sum over all customers: the top-100 cut goes through
    // TakeOrderedAndProject first, so the only window sort runs over 100
    // rows; the denominator is a broadcast scalar. Cumulative sums stay
    // DECIMAL-exact until one final double conversion + division each.
    "q_orders_pareto" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      val tot = rev.agg(sum("rev").as("tot"))
      val top = rev.orderBy(desc("rev"), col("o_custkey")).limit(100)
      val ord = Window.orderBy(desc("rev"), col("o_custkey"))
      top
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum", sum("rev").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("o_custkey"), col("rev").cast("double").as("rev"),
          (col("cum").cast("double") / col("tot").cast("double")).as("cum_share"))
        .orderBy("rank")
    }),

    // Word-commonness quality score — the log-free perplexity proxy: a
    // document whose words are corpus-rare is OCR noise, gibberish, or a
    // language outlier. Σ corpus-frequency(word) per doc is an exact
    // int64; the score is one IEEE division (this repo's standing
    // rational-score policy — cross-engine ln() is not reproducible).
    "q_text_commonness" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(wordsSpark("text"))).as("word"))
      val freq = words.groupBy("word").agg(count(lit(1)).as("cf"))
      val tot = words.agg(count(lit(1)).as("n_total"))
      words.join(broadcast(freq), "word")
        .groupBy("doc_id").agg(count(lit(1)).as("n_words"), sum("cf").as("sum_cf"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_words"), col("sum_cf"),
          (col("sum_cf").cast("double") / (col("n_words") * col("n_total")))
            .as("commonness"))
        .orderBy("doc_id")
    }),

    // Funnel conversion latency: per converting user, gap from first view
    // to first subsequent purchase; quartiles + extremes of the integral
    // µs gaps (interpolation over integral doubles — the proven
    // percentile parity pattern).
    "q_events_funnel_time" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t_v"))
      val p = ev.filter(col("event_type") === "purchase").join(v, "user_id")
        .filter(col("ts_us") > col("t_v"))
        .groupBy("user_id").agg(min("ts_us").as("t_p"))
      v.join(p, "user_id")
        .select((col("t_p") - col("t_v")).as("gap_us"))
        .agg(count(lit(1)).as("n_converted"),
          min("gap_us").as("min_gap"),
          expr("percentile(gap_us, 0.25)").as("q1"),
          expr("percentile(gap_us, 0.5)").as("median"),
          expr("percentile(gap_us, 0.75)").as("q3"),
          max("gap_us").as("max_gap"))
        .orderBy("n_converted") // single row; total-ORDER-BY rule kept literal
    }),

    // Top-3 orders per customer through the CUSTOM TopKPerKey physical
    // operator (plans.TopKPerKey: bounded heaps, partial pass under the
    // key exchange, no sort anywhere) — the oracle is the classic
    // row_number() window formulation, so the hash equality proves the
    // operator against the semantics it replaces. PlanSpec pins the
    // plan shape (two TopKPerKeyExec nodes, no Window/Sort below them).
    "q_topk_per_key" -> ((s, d) => {
      val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
      graft.plans.TopKPerKey(o, keys = Seq("o_custkey"),
          order = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))
    }),

    // CDC diff (the inverse of q_cdc_apply): diff yesterday's snapshot
    // against a mutated today — price bump on %10==2, rows %10==3
    // deleted, shifted keys inserted — and the change set must contain
    // exactly those rows with the right op tags. The oracle enumerates
    // the expected binlog directly from the mutation recipe, so the
    // full-outer-join + null-safe-compare machinery is what is proven.
    "q_cdc_diff" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val prev = o.select("o_orderkey", "o_custkey", "o_totalprice")
      val next = prev.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 2, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")))
        .unionByName(prev.filter(col("o_orderkey") % 10 === 4)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.ops.SnapshotDiff(prev, next, "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // CDC apply: fold a synthetic binlog (two stacked upserts on the same
    // keys — last-wins —, tombstones, and inserts) into the orders
    // snapshot via ops.CdcApply. The oracle is an independent CASE/anti-
    // join reformulation of the END STATE, so the window's latest-change
    // selection is what the hash equality actually proves.
    "q_cdc_apply" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val base = o.select("o_orderkey", "o_custkey", "o_totalprice")
      def change(rows: DataFrame, seq: Long, op: String) =
        rows.select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
          col("o_custkey"), col("o_totalprice"))
      val u1 = change(o.filter(col("o_orderkey") % 10 === 2)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0), 1L, "U")
      val u2 = change(o.filter(col("o_orderkey") % 20 === 2)
        .withColumn("o_totalprice", col("o_totalprice") + 2000.0), 2L, "U")
      val dels = change(o.filter(col("o_orderkey") % 10 === 3), 1L, "D")
      val ins = change(o.filter(col("o_orderkey") % 10 === 4)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L), 1L, "I")
      val changes = u1.unionByName(u2).unionByName(dels).unionByName(ins)
      graft.ops.CdcApply(base, changes, "o_orderkey", "seq", "op")
        .orderBy("o_orderkey")
    }),

    // Per-group z-score standardization — the feature-scaling pass every
    // training pipeline runs. Determinism: values quantize exactly to
    // integer cents through the DECIMAL(18,2) cast, the group moments
    // (n, Σx, Σx²) are exact int64 aggregates, and each z is one fixed
    // IEEE expression of those — identical doubles on both engines. The
    // stats table broadcasts; the fact side never shuffles.
    "q_feature_zscore" -> ((s, d) => {
      val base = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("value"), (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      val stats = base.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
      base.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("cents").cast("double") - col("sx").cast("double") / col("n")) /
            sqrt((col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double") / col("n"))
              / col("n")), 6).as("z"))
        .orderBy("event_id")
    }),

    // Percentile winsorization: clip a numeric feature into its per-group
    // [p05, p95] band — the outlier-capping prep step. The clip itself is
    // pure selection (least/greatest — no arithmetic on the interpolated
    // bounds), so rows are bit-deterministic; bounds broadcast.
    "q_feature_winsorize" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
      val b = li.groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.05)").as("lo"),
        expr("percentile(l_quantity, 0.95)").as("hi"))
      li.join(broadcast(b), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          least(greatest(col("l_quantity"), col("lo")), col("hi")).as("clipped"),
          (col("l_quantity") < col("lo") || col("l_quantity") > col("hi"))
            .cast("long").as("was_clipped"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Corpus fingerprint: one order-independent checksum row per source —
    // XOR of a per-document hash (poly-hash of the text mixed with the
    // doc id) plus exact counts. THE cheap cross-cluster validation for a
    // 100 TB corpus copy: each side computes its fingerprint locally and
    // only the tiny checksum table moves. XOR is commutative/associative,
    // so no ordering constraint exists anywhere in the plan.
    "q_corpus_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          expr(s"(${polyHashSpark("trim(text)")} * $Spread + doc_id)").as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          expr("bit_xor(h)").as("fp"))
        .orderBy("source")),
  )

  /** Flat FastSS k=1 blocking CTEs over the whole customer table —
    * shared by the batch face, the incremental union-replay face, and
    * the auto-route face (which relabels to the grouped schema). */
  private val editJoinFlatBody: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_custkey AS id, c_name AS s FROM customer WHERE length(c_name) > 0),
      |vars AS MATERIALIZED (
      |  SELECT id, s, unnest(list_distinct(list_prepend(s,
      |    list_transform(range(1, length(s) + 1),
      |      i -> substr(s, 1, CAST(i - 1 AS INT)) || substr(s, CAST(i + 1 AS INT)))))) AS v
      |  FROM c),
      |cand AS (
      |  SELECT DISTINCT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id)""".stripMargin

  private val editJoinFlatSql: String =
    s"""$editJoinFlatBody
       |SELECT id1, id2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(s1, s2) <= 1
       |ORDER BY id1, id2""".stripMargin

  /** The depth-≤2 deletion neighborhood of a column `s` as a DuckDB list
    * expression (mirrors EditJoin.variants2Expr; DuckDB's range is empty
    * when start ≥ stop, so no descending-sequence guard is needed). */
  private val editJoin2VariantsDuck: String =
    // NOTE: this fragment is interpolated into s-strings that call
    // stripMargin AGAIN, so no line may BEGIN with '|' ('||' would lose
    // a pipe and become the bitwise-or operator) — concatenation pipes
    // stay at line ENDS
    """list_distinct(list_concat(list_concat(
      |    [s],
      |    list_transform(range(1, length(s) + 1),
      |      i -> substr(s, 1, CAST(i - 1 AS INT)) || substr(s, CAST(i + 1 AS INT)))),
      |    flatten(list_transform(range(1, length(s)), i ->
      |      list_transform(range(i + 1, length(s) + 1), j ->
      |        substr(s, 1, CAST(i - 1 AS INT)) ||
      |          substr(s, CAST(i + 1 AS INT), CAST(j - i - 1 AS INT)) ||
      |          substr(s, CAST(j + 1 AS INT)))))))""".stripMargin

  /** Flat FastSS k=2 join over the capped serial prefix — shared
    * verbatim by the batch face and the incremental union-replay face. */
  private val editJoin2FlatBody: String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT c_custkey AS id, c_name AS s FROM customer
       |  WHERE length(c_name) > 0 AND c_custkey <= 4000),
       |vars AS MATERIALIZED (
       |  SELECT id, s, unnest($editJoin2VariantsDuck) AS v
       |  FROM c),
       |cand AS (
       |  SELECT DISTINCT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2
       |  FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id)""".stripMargin

  private val editJoin2FlatSql: String =
    s"""$editJoin2FlatBody
       |SELECT id1, id2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(s1, s2) <= 2
       |ORDER BY id1, id2""".stripMargin

  /** Flat sorted-neighborhood blocking (w = 5) over the whole customer
    * table — shared verbatim by the batch face and the incremental
    * rank-merge face. */
  private val sortedBlockFlatSql: String =
    """WITH r AS MATERIALIZED (
      |  SELECT c_custkey AS id,
      |    CAST(row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS BIGINT) AS rk
      |  FROM customer)
      |SELECT a.id AS id1, b.id AS id2, CAST(b.rk - a.rk AS BIGINT) AS gap
      |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 4
      |ORDER BY id1, id2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_events_quantile" -> graft.ops.QuantileSketch.flatSql("events",
      "event_type", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)",
      Seq(50, 90, 99)),

    // both hierarchy levels' registers computed FLAT from the hashed
    // relation — never from each other — so the hash equality proves the
    // hierarchical max-merge (the q_agg_hll_cube convention over time
    // buckets; µs//hour == ns//hour composition as everywhere)
    "q_events_distinct_rollup" ->
      s"""WITH hashed AS MATERIALIZED (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         |    ${graft.ops.Hll.hashSql("user_id")} AS h
         |  FROM events),
         |regs AS MATERIALIZED (
         |  ${graft.ops.Hll.regsDuck("event_type, hr")}
         |  FROM hashed GROUP BY 1, 2, 3
         |  UNION ALL
         |  ${graft.ops.Hll.regsDuck("event_type, CAST(-1 AS BIGINT) AS hr")}
         |  FROM hashed GROUP BY 1, 2, 3)
         |${graft.ops.Hll.estDuck("event_type, hr", "apx_users")}
         |ORDER BY event_type, hr""".stripMargin,

    "q_tpch_q3" ->
      s"""SELECT l_orderkey,
         |  CAST(sum($revenueTermDuck) AS DOUBLE) AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS od
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      s"""SELECT n_name, CAST(sum($revenueTermDuck) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS MATERIALIZED (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        |SELECT c_custkey, o_orderkey, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q_time_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_lag_days,
        |  strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_window_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_orderkey
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS roll_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_pack_contexts" ->
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(list_sum(list_transform(${wordsDuck("text")}, w -> (length(w) + 3) // 4)) AS BIGINT) AS toks
         |  FROM documents)
         |SELECT source, doc_id, toks,
         |  COALESCE(CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // $ContextTokens AS bin
         |FROM t
         |ORDER BY source, doc_id""".stripMargin,

    "q_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($revenueTermDuck) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum($chargeTermDuck) AS DOUBLE) AS sum_charge,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
         |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#4'
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY avg_yearly""".stripMargin,

    "q_tpch_q2" ->
      """SELECT p.p_size, p.p_partkey, p.p_name, p.p_retailprice
        |FROM part p
        |WHERE p.p_size <= 10 AND p.p_retailprice = (
        |  SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_size = p.p_size)
        |ORDER BY p_size, p_partkey""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY revenue""".stripMargin,

    "q_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS yr,
         |  CAST(sum($revenueTermDuck) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |GROUP BY supp_nation, cust_nation, yr
         |ORDER BY supp_nation, cust_nation, yr""".stripMargin,

    "q_tpch_q10" ->
      s"""SELECT c_custkey, c_name, CAST(sum($revenueTermDuck) AS DOUBLE) AS revenue, n_name
         |FROM customer
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_tpch_q14" ->
      s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueTermDuck ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |             / CAST(sum($revenueTermDuck) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
         |ORDER BY promo_revenue""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 15, 20, 25, 30)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q19" ->
      s"""SELECT CAST(sum($revenueTermDuck) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
         |ORDER BY revenue""".stripMargin,

    // correlated EXISTS / NOT-EXISTS formulation — equivalent to the
    // engine's single-pass window decorrelation (equality checked in
    // DuckDB during development)
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders o ON o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,

    "q_tpch_q22" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CASE WHEN n2.n_name = 'NATION_5' THEN $revenueTermDuck
         |               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |    / CAST(sum($revenueTermDuck) AS DOUBLE) AS mkt_share
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin,

    "q_tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum($revenueTermDuck) AS DOUBLE)
         |    - CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))
         |               * CAST(0.10 AS DECIMAL(4,2))) AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2
         |ORDER BY 1, 2 DESC""".stripMargin,

    "q_tpch_q11" ->
      s"""WITH f AS MATERIALIZED (
         |  SELECT l_partkey, $revenueTermDuck AS rev
         |  FROM lineitem
         |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0.0))
         |SELECT l_partkey, CAST(sum(rev) AS DOUBLE) AS value
         |FROM f GROUP BY l_partkey
         |HAVING CAST(sum(rev) AS DOUBLE) > (SELECT CAST(sum(rev) AS DOUBLE)
         |  / count(DISTINCT l_partkey) * CAST(1.5 AS DOUBLE) FROM f)
         |ORDER BY value DESC, l_partkey""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      s"""WITH r AS MATERIALIZED (
         |  SELECT l_suppkey, CAST(sum($revenueTermDuck) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN r ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM r)
         |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q20" ->
      """WITH l AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND p_name LIKE 'small%'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, supp_qty,
        |      sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty FROM l)
        |  WHERE supp_qty > part_qty * 0.5)
        |ORDER BY s_suppkey""".stripMargin,

    "q_range_join" ->
      """WITH e AS MATERIALIZED (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |    epoch_us(ts) // 3600000000 AS hr, event_type
        |  FROM events),
        |s AS MATERIALIZED (
        |  SELECT user_id AS s_user, hr AS s_hr, min(t_us) AS t0, max(t_us) AS t1
        |  FROM e GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.t_us,
        |  count(s.s_user) AS n_concurrent
        |FROM e p LEFT JOIN s
        |  ON p.hr = s.s_hr AND p.t_us BETWEEN s.t0 AND s.t1 AND s.s_user <> p.user_id
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2, 3
        |ORDER BY p.event_id""".stripMargin,

    "q_window_cumdistinct" ->
      """WITH f AS MATERIALIZED (
        |  SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour FROM events GROUP BY user_id),
        |d AS MATERIALIZED (SELECT hour, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT hour, new_users, CAST(sum(new_users) OVER (ORDER BY hour) AS BIGINT) AS cum_users
        |FROM d ORDER BY hour""".stripMargin,

    "q_events_attribution" ->
      """WITH e AS MATERIALIZED (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |w AS (
        |  SELECT event_id, user_id, ts_us, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_click
        |  FROM e)
        |SELECT event_id, user_id, ts_us, attributed_click
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_events_rfm" ->
      """WITH m AS MATERIALIZED (
        |  SELECT user_id,
        |    max(epoch_us(ts) // 86400000000) AS recency_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, recency_day, frequency, monetary,
        |  CAST(ntile(5) OVER (ORDER BY recency_day, user_id) AS BIGINT) AS r_tile,
        |  CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_tile,
        |  CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS BIGINT) AS m_tile
        |FROM m ORDER BY user_id""".stripMargin,

    "q_agg_mode" ->
      """SELECT l_returnflag, l_linestatus, CAST(mode_qty AS BIGINT) AS mode_qty, cnt FROM (
        |  SELECT l_returnflag, l_linestatus, l_quantity AS mode_qty, cnt,
        |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |                       ORDER BY cnt DESC, l_quantity) AS rn
        |  FROM (SELECT l_returnflag, l_linestatus, l_quantity, count(*) AS cnt
        |        FROM lineitem GROUP BY 1, 2, 3))
        |WHERE rn = 1 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_skyline" ->
      """WITH p AS MATERIALIZED (
        |  SELECT p_partkey, p_size, p_retailprice,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        |  FROM part),
        |w AS (
        |  SELECT p_partkey, p_size, p_retailprice,
        |    min(p_size) OVER (ORDER BY cents RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_strict,
        |    min(p_size) OVER (ORDER BY cents RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_incl
        |  FROM p)
        |SELECT p_partkey, p_size, p_retailprice
        |FROM w
        |WHERE NOT (coalesce(m_strict <= p_size, false) OR m_incl < p_size)
        |ORDER BY p_partkey""".stripMargin,

    "q_events_retention" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS MATERIALIZED (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, e.day - c.cohort AS day_offset, count(*) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY c.cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin,

    "q_table_profile" -> {
      def p(cn: String, mm: String => String) =
        s"""SELECT '$cn' AS col_name, count(*) AS n_rows, count($cn) AS n_nonnull,
           |  count(DISTINCT $cn) AS n_distinct,
           |  CAST(min(${mm(cn)}) AS VARCHAR) AS min_v,
           |  CAST(max(${mm(cn)}) AS VARCHAR) AS max_v FROM orders""".stripMargin
      Seq(
        p("o_orderkey", identity),
        p("o_custkey", identity),
        p("o_totalprice", c => s"CAST($c AS DECIMAL(18,2))"),
        p("o_orderdate", c => s"strftime($c, '%Y-%m-%d')"),
      ).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q_dq_audit" ->
      """SELECT 'duplicate_order_pk' AS "check", count(*) AS n FROM (
        |  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'null_custkey' AS "check", count(*) AS n FROM orders WHERE o_custkey IS NULL
        |UNION ALL
        |SELECT 'orphan_lineitems' AS "check", count(*) AS n
        |FROM lineitem l WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |ORDER BY "check"""".stripMargin,

    "q_time_fill" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events WHERE user_id < 30 GROUP BY user_id, day),
        |spine AS MATERIALIZED (
        |  SELECT user_id, unnest(range(min(day), max(day) + 1)) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN daily d USING (user_id, day)
        |ORDER BY s.user_id, s.day""".stripMargin,

    "q_kanon_suppress" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source)
         |SELECT lang, source, n FROM g WHERE n >= $KanonK
         |UNION ALL
         |SELECT 'other' AS lang, 'other' AS source,
         |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n FROM g WHERE n < $KanonK
         |ORDER BY lang, source""".stripMargin,

    "q_outlier_mad" ->
      """WITH li AS MATERIALIZED (SELECT l_returnflag, l_quantity FROM lineitem),
        |med AS MATERIALIZED (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM li GROUP BY l_returnflag),
        |dev AS MATERIALIZED (
        |  SELECT li.l_returnflag, abs(li.l_quantity - med.med) AS adev, med.med
        |  FROM li JOIN med USING (l_returnflag)),
        |st AS MATERIALIZED (
        |  SELECT l_returnflag, any_value(med) AS med,
        |         quantile_cont(adev, 0.5) AS mad, count(*) AS n
        |  FROM dev GROUP BY l_returnflag)
        |SELECT st.l_returnflag, st.med, st.mad,
        |  CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out, st.n
        |FROM st LEFT JOIN (
        |  SELECT dev.l_returnflag, count(*) AS n_out
        |  FROM dev JOIN st USING (l_returnflag)
        |  WHERE dev.adev > 3.0 * st.mad GROUP BY dev.l_returnflag) o
        |  USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000.0) * 20000 AS BIGINT) AS bucket_lo,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
        |FROM orders
        |GROUP BY 1 ORDER BY bucket_lo""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_array_funcs" ->
      """WITH p AS MATERIALIZED (
        |  SELECT l_orderkey, list_sort(list(l_partkey)) AS pa
        |  FROM lineitem WHERE l_orderkey < 300 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  array_to_string(pa, ',') AS parts,
        |  array_to_string(pa[1:3], ',') AS first3,
        |  CAST(len(list_distinct(pa)) AS BIGINT) AS n_uniq,
        |  CAST(list_contains(pa, 1) AS BIGINT) AS has_p1,
        |  pa[-1] AS last_part
        |FROM p ORDER BY l_orderkey""".stripMargin,

    "q_agg_minby" ->
      """SELECT o_custkey,
        |  arg_min(o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) AS first_order,
        |  arg_max(o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) AS last_order,
        |  count(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_regex_extract" ->
      """SELECT p_partkey,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CAST(regexp_matches(p_name, '^[a-z]+ ') AS BIGINT) AS startsword
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_window_ratio" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM lineitem WHERE l_orderkey < 300
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    "q_unpivot" ->
      """WITH w AS MATERIALIZED (
        |  SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
        |  UNION ALL SELECT l_returnflag, 'n', n FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q_null_funcs" ->
      """WITH cnts AS MATERIALIZED (
        |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)
        |SELECT c_custkey,
        |  coalesce(cnt, 0) AS cnt0,
        |  nullif(coalesce(cnt, 0), 0) AS cnt_nz,
        |  CAST(cnt IS NULL AS BIGINT) AS missing
        |FROM customer LEFT JOIN cnts ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_window_firstlast" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  first_value(l_quantity) OVER w AS first_qty,
        |  last_value(l_quantity) OVER w AS last_qty,
        |  nth_value(l_quantity, 2) OVER w AS second_qty
        |FROM lineitem WHERE l_suppkey <= 5
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_text_editdist" ->
      """SELECT a.doc_id, CAST(levenshtein(substring(a.text, 1, 60), substring(b.text, 1, 60)) AS BIGINT) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 100
        |ORDER BY a.doc_id""".stripMargin,

    // the same deletion-neighborhood blocking, spelled in DuckDB (range
    // is empty for start == stop, matching the engine's length > 0
    // guard; list_distinct mirrors array_union's dedup — candidate
    // DISTINCT makes both folds equivalent anyway)
    "q_text_editjoin" -> editJoinFlatSql,
    // union-replay contract: the incremental face must EQUAL the flat
    // join over the whole table — same SQL verbatim (the _idx twin runs
    // the same contract over the materialized index with a 1-in-10 batch)
    "q_text_editjoin_inc" -> editJoinFlatSql,
    "q_text_editjoin_idx" -> editJoinFlatSql,
    // the auto route picks the exploded path on every non-degenerate
    // corpus (customer names are duplicate-free, ratio 1.0), emitted in
    // the grouped schema with n_pairs = 1 — the winnowPairsAuto proof
    // shape; the routed (grouped) branch is pinned by an EditJoinSpec
    // duplicate-heavy fixture
    "q_text_editjoin_auto" ->
      s"""$editJoinFlatBody
         |SELECT id1 AS rep1, id2 AS rep2,
         |  CAST(levenshtein(s1, s2) AS BIGINT) AS dist,
         |  CAST(1 AS BIGINT) AS n_pairs
         |FROM cand WHERE levenshtein(s1, s2) <= 1
         |ORDER BY rep1, rep2""".stripMargin,

    // depth-≤2 neighborhood in DuckDB (range(a, b) is EMPTY when a ≥ b,
    // so the 2-deletion inner ranges need no length guard — unlike
    // Spark's descending sequence, documented at EditJoin.variants2Expr)
    "q_text_editjoin2" -> editJoin2FlatSql,
    // k=2 union-replay contract: same SQL verbatim
    "q_text_editjoin2_inc" -> editJoin2FlatSql,
    // the k=2 auto route on dup-free serials: exploded path, grouped
    // schema, n_pairs = 1 (the q_text_editjoin_auto proof shape)
    "q_text_editjoin2_auto" ->
      s"""$editJoin2FlatBody
         |SELECT id1 AS rep1, id2 AS rep2,
         |  CAST(levenshtein(s1, s2) AS BIGINT) AS dist,
         |  CAST(1 AS BIGINT) AS n_pairs
         |FROM cand WHERE levenshtein(s1, s2) <= 2
         |ORDER BY rep1, rep2""".stripMargin,

    "q_text_editjoin2_grouped" ->
      s"""WITH c AS MATERIALIZED (
         |  SELECT c_custkey AS id, c_name AS s FROM customer
         |  WHERE length(c_name) > 0 AND c_custkey <= 4000),
         |g AS MATERIALIZED (
         |  SELECT s, min(id) AS rep, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY s),
         |vars AS MATERIALIZED (
         |  SELECT rep, s, unnest($editJoin2VariantsDuck) AS v
         |  FROM g),
         |cand AS (
         |  SELECT DISTINCT a.rep AS rep1, b.rep AS rep2, a.s AS s1, b.s AS s2
         |  FROM vars a JOIN vars b ON a.v = b.v AND a.rep < b.rep),
         |inter AS (
         |  SELECT rep1, rep2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
         |  FROM cand WHERE levenshtein(s1, s2) <= 2)
         |SELECT rep AS rep1, rep AS rep2, CAST(0 AS BIGINT) AS dist,
         |  n * (n - 1) // 2 AS n_pairs
         |FROM g WHERE n > 1
         |UNION ALL
         |SELECT i.rep1, i.rep2, i.dist, g1.n * g2.n AS n_pairs
         |FROM inter i JOIN g g1 ON g1.rep = i.rep1 JOIN g g2 ON g2.rep = i.rep2
         |ORDER BY rep1, rep2""".stripMargin,

    // grouped twin: same blocking over DISTINCT names, multiplicities
    // from the group sizes; rep1 = rep2 rows carry the intra-group
    // C(n,2) duplicate mass
    "q_text_editjoin_grouped" ->
      """WITH c AS MATERIALIZED (
        |  SELECT c_custkey AS id, c_name AS s FROM customer WHERE length(c_name) > 0),
        |g AS MATERIALIZED (
        |  SELECT s, min(id) AS rep, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY s),
        |vars AS MATERIALIZED (
        |  SELECT rep, s, unnest(list_distinct(list_prepend(s,
        |    list_transform(range(1, length(s) + 1),
        |      i -> substr(s, 1, CAST(i - 1 AS INT)) || substr(s, CAST(i + 1 AS INT)))))) AS v
        |  FROM g),
        |cand AS (
        |  SELECT DISTINCT a.rep AS rep1, b.rep AS rep2, a.s AS s1, b.s AS s2
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.rep < b.rep),
        |inter AS (
        |  SELECT rep1, rep2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
        |  FROM cand WHERE levenshtein(s1, s2) <= 1)
        |SELECT rep AS rep1, rep AS rep2, CAST(0 AS BIGINT) AS dist,
        |  n * (n - 1) // 2 AS n_pairs
        |FROM g WHERE n > 1
        |UNION ALL
        |SELECT i.rep1, i.rep2, i.dist, g1.n * g2.n AS n_pairs
        |FROM inter i JOIN g g1 ON g1.rep = i.rep1 JOIN g g2 ON g2.rep = i.rep2
        |ORDER BY rep1, rep2""".stripMargin,

    // flat global rank + banded self-join — the window-of-5 neighborhood
    // spelled directly (DuckDB's IEJoin handles the rank-range predicate)
    "q_dedup_sorted_block" -> sortedBlockFlatSql,
    // union-replay contract: the rank-merge face must EQUAL the flat
    // two-pass-free blocking over the whole table — same SQL verbatim
    // (the _idx twin runs the same contract over the pid-partitioned
    // DISK layout with a 1-in-10 batch)
    "q_dedup_sorted_block_inc" -> sortedBlockFlatSql,
    "q_dedup_sorted_block_inc_idx" -> sortedBlockFlatSql,
    "q_dedup_sorted_block_idx_ro" -> sortedBlockFlatSql,

    // two independent rank passes (name; reversed name), candidate
    // union, dedup on the unordered id pair with the pass count in-band
    "q_dedup_sorted_block2" ->
      """WITH r1 AS MATERIALIZED (
        |  SELECT c_custkey AS id,
        |    CAST(row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS BIGINT) AS rk
        |  FROM customer),
        |r2 AS MATERIALIZED (
        |  SELECT c_custkey AS id,
        |    CAST(row_number() OVER (ORDER BY reverse(c_name), c_custkey) - 1 AS BIGINT) AS rk
        |  FROM customer),
        |u AS (
        |  SELECT least(a.id, b.id) AS id1, greatest(a.id, b.id) AS id2
        |  FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk <= a.rk + 4
        |  UNION ALL
        |  SELECT least(a.id, b.id) AS id1, greatest(a.id, b.id) AS id2
        |  FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 4)
        |SELECT id1, id2, CAST(count(*) AS BIGINT) AS n_passes
        |FROM u GROUP BY id1, id2
        |ORDER BY id1, id2""".stripMargin,

    "q_events_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_events_funnel" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS MATERIALIZED (SELECT user_id, min(ts_us) AS t_v FROM e
        |     WHERE event_type = 'view' GROUP BY user_id),
        |c AS MATERIALIZED (SELECT e.user_id, min(ts_us) AS t_c FROM e JOIN v ON e.user_id = v.user_id
        |     WHERE event_type = 'click' AND ts_us > t_v GROUP BY e.user_id),
        |p AS MATERIALIZED (SELECT e.user_id, min(ts_us) AS t_p FROM e JOIN c ON e.user_id = c.user_id
        |     WHERE event_type = 'purchase' AND ts_us > t_c GROUP BY e.user_id)
        |SELECT count(*) AS n_view, count(t_c) AS n_click, count(t_p) AS n_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY n_view""".stripMargin,

    "q_events_latest" -> EventsLatestSql,
    // the agg twin shares the window oracle VERBATIM: hash equality proves
    // max(struct) ≡ row_number()=1 (the chunked-twin proof shape)
    "q_events_latest_agg" -> EventsLatestSql,

    "q_copurchase" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
        |SELECT a.p AS p1, b.p AS p2, count(*) AS n_orders
        |FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 100""".stripMargin,

    "q_events_anomaly" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |t AS MATERIALIZED (
        |  SELECT event_type, day, n,
        |    count(n) OVER w AS k,
        |    CAST(sum(n) OVER w AS BIGINT) AS sx,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS sxx
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n, k,
        |  round(CAST(sx AS DOUBLE) / k, 6) AS mean,
        |  round(sqrt(CAST(k * sxx - sx * sx AS DOUBLE) / (k * (k - 1))), 6) AS sd,
        |  CAST(n > CAST(sx AS DOUBLE) / k
        |         + 2.0 * sqrt(CAST(k * sxx - sx * sx AS DOUBLE) / (k * (k - 1)))
        |       AS BIGINT) AS is_anomaly
        |FROM t WHERE k >= 2
        |ORDER BY event_type, day""".stripMargin,

    "q_events_scd2" ->
      """SELECT user_id, event_id, ts_us AS valid_from,
        |  lead(ts_us, 1) OVER w AS valid_to,
        |  CAST(lead(ts_us, 1) OVER w IS NULL AS BIGINT) AS is_current,
        |  event_type
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |      FROM events WHERE user_id < 30)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT o_custkey, count(*) AS cnt
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 18
        |ORDER BY o_custkey""".stripMargin,
    // the MG-pruned route must produce the identical exact relation
    "q_heavy_hitters_mg" ->
      """SELECT o_custkey, count(*) AS cnt
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 18
        |ORDER BY o_custkey""".stripMargin,

    "q_prep_training" -> {
      val pattern = graft.pipeline.TextAnalysis.blocklistPattern
      val mask = graft.pipeline.TextAnalysis.RedactMask
      s"""WITH m AS MATERIALIZED (
         |  SELECT doc_id, source, regexp_replace(text, '$pattern', '$mask', 'g') AS rtext
         |  FROM documents),
         |s AS MATERIALIZED (
         |  SELECT doc_id, source, ${polyHashDuck("rtext")} AS fp,
         |    len(${wordsDuck("rtext")}) AS n_words,
         |    CAST(list_sum(list_transform(${wordsDuck("rtext")}, w -> (length(w) + 3) // 4)) AS BIGINT) AS toks
         |  FROM m),
         |q AS MATERIALIZED (SELECT * FROM s WHERE n_words >= 20),
         |dd AS MATERIALIZED (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM q)
         |  WHERE rn = 1),
         |sp AS MATERIALIZED (
         |  SELECT doc_id, source, toks,
         |    CASE WHEN fp % 10 < 8 THEN 'train' WHEN fp % 10 = 8 THEN 'val' ELSE 'test' END AS split
         |  FROM dd)
         |SELECT split, source, doc_id, toks,
         |  COALESCE(CAST(sum(toks) OVER (PARTITION BY split, source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) // $ContextTokens AS bin
         |FROM sp ORDER BY split, source, doc_id""".stripMargin
    },

    "q_corpus_fingerprint" ->
      s"""SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  bit_xor(${polyHashDuck("trim(text)")} * $Spread + doc_id) AS fp
         |FROM documents
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    "q_events_markov" ->
      """WITH seq AS MATERIALIZED (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS to_type
        |  FROM events),
        |t AS MATERIALIZED (
        |  SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,

    "q_events_paths" ->
      """WITH seq AS MATERIALIZED (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*) AS n
        |FROM seq WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q_interval_coalesce" ->
      """WITH iv AS MATERIALIZED (
        |  SELECT user_id, epoch_ms(ts) AS s_ms,
        |    epoch_ms(ts) + (1 + event_id % 10) * 60000 AS e_ms
        |  FROM events),
        |m AS MATERIALIZED (
        |  SELECT user_id, s_ms, e_ms,
        |    max(e_ms) OVER (PARTITION BY user_id ORDER BY s_ms, e_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |f AS MATERIALIZED (
        |  SELECT user_id, s_ms, e_ms,
        |    CASE WHEN pme IS NULL OR s_ms > pme THEN 1 ELSE 0 END AS opens
        |  FROM m),
        |g AS MATERIALIZED (
        |  SELECT user_id, s_ms, e_ms,
        |    CAST(sum(opens) OVER (PARTITION BY user_id ORDER BY s_ms, e_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM f)
        |SELECT user_id, island, min(s_ms) AS t_start, max(e_ms) AS t_end,
        |  count(*) AS n_intervals
        |FROM g GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,

    // EWMA replay: same trailing-window cut, same ascending (ts, event)
    // order, same zero-start (s + v)/2 fold — sequential, so the doubles
    // agree bit-for-bit
    "q_time_ewma" ->
      s"""WITH e AS MATERIALIZED (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |t AS MATERIALIZED (
        |  SELECT user_id, list(cents ORDER BY ts_us, event_id) AS arr
        |  FROM e WHERE rn <= $EwmaWindow GROUP BY user_id)
        |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_events,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(arr, c -> CAST(c AS DOUBLE))),
        |    (acc, x) -> (acc + x) / 2.0) AS ewma_cents
        |FROM t ORDER BY user_id""".stripMargin,

    // Holt replay: identical trailing cut and ascending fold order, the
    // (level, trend) state as a 2-list (1-based here, 0-based in Spark —
    // same IEEE tree), elements lifted to [value, 0.0] lists so the
    // reduce is element-typed
    "q_time_holt" ->
      s"""WITH e AS MATERIALIZED (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |t AS MATERIALIZED (
        |  SELECT user_id, list(cents ORDER BY ts_us, event_id) AS arr
        |  FROM e WHERE rn <= $EwmaWindow GROUP BY user_id),
        |h AS (
        |  SELECT user_id, CAST(len(arr) AS BIGINT) AS n_events,
        |    list_reduce(list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
        |      list_transform(arr, c -> [CAST(c AS DOUBLE), CAST(0.0 AS DOUBLE)])),
        |      (acc, x) -> [((x[1] + acc[1]) + acc[2]) / 2.0,
        |        ((((x[1] + acc[1]) + acc[2]) / 2.0 - acc[1]) + acc[2]) / 2.0]) AS st
        |  FROM t)
        |SELECT user_id, n_events, st[1] AS holt_level, st[2] AS holt_trend,
        |  st[1] + st[2] AS forecast_1
        |FROM h ORDER BY user_id""".stripMargin,

    // CUSUM replay: identical clamped drift arithmetic on the identical
    // radix-packed integer state
    "q_time_cusum" -> {
      val step = s"greatest(CAST(0 AS BIGINT), acc % $CusumRadix + " +
        s"least(x - $CusumTarget, $CusumClamp))"
      s"""WITH e AS MATERIALIZED (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |t AS MATERIALIZED (
        |  SELECT user_id, list(cents ORDER BY ts_us, event_id) AS arr
        |  FROM e WHERE rn <= $EwmaWindow GROUP BY user_id),
        |c AS (
        |  SELECT user_id, CAST(len(arr) AS BIGINT) AS n_events,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), arr),
        |      (acc, x) -> greatest(acc // $CusumRadix, $step) * $CusumRadix + $step) AS packed
        |  FROM t)
        |SELECT user_id, n_events, packed % $CusumRadix AS cusum_end,
        |  packed // $CusumRadix AS cusum_max,
        |  CASE WHEN packed // $CusumRadix > $CusumH THEN CAST(1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS drifted
        |FROM c ORDER BY user_id""".stripMargin
    },

    "q_time_downsample" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) // 86400000000 AS day, value
        |  FROM events),
        |t AS MATERIALIZED (
        |  SELECT user_id, day, value,
        |    first_value(value) OVER w AS open, last_value(value) OVER w AS close
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id, day ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, min(open) AS open, max(value) AS high,
        |  min(value) AS low, min(close) AS close, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM t GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin,

    "q_assoc_rules" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |tot AS MATERIALIZED (SELECT count(DISTINCT o) AS n_t FROM li),
        |supp AS MATERIALIZED (SELECT p, count(*) AS n_p FROM li GROUP BY p),
        |pairs AS MATERIALIZED (
        |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS MATERIALIZED (
        |  SELECT p1 AS antecedent, p2 AS consequent, n_ab FROM pairs
        |  UNION ALL SELECT p2, p1, n_ab FROM pairs)
        |SELECT r.antecedent, r.consequent, r.n_ab AS n_both, sa.n_p AS n_ante,
        |  CAST(r.n_ab AS DOUBLE) / sa.n_p AS confidence,
        |  CAST(t.n_t * r.n_ab AS DOUBLE) / (sa.n_p * sc.n_p) AS lift
        |FROM rules r
        |JOIN supp sa ON r.antecedent = sa.p
        |JOIN supp sc ON r.consequent = sc.p
        |CROSS JOIN tot t
        |ORDER BY lift DESC, antecedent, consequent LIMIT 100""".stripMargin,

    "q_orders_pareto" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |tot AS MATERIALIZED (SELECT sum(rev) AS tot FROM rev),
        |top AS MATERIALIZED (
        |  SELECT o_custkey, rev FROM rev ORDER BY rev DESC, o_custkey LIMIT 100)
        |SELECT row_number() OVER (ORDER BY rev DESC, o_custkey) AS rank,
        |  o_custkey, CAST(rev AS DOUBLE) AS rev,
        |  CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(t.tot AS DOUBLE) AS cum_share
        |FROM top CROSS JOIN tot t
        |ORDER BY rank""".stripMargin,

    "q_text_commonness" ->
      s"""WITH w AS MATERIALIZED (
        |  SELECT doc_id, unnest(${wordsDuck("text")}) AS word FROM documents),
        |freq AS MATERIALIZED (SELECT word, count(*) AS cf FROM w GROUP BY word),
        |tot AS MATERIALIZED (SELECT count(*) AS n_total FROM w)
        |SELECT doc_id, count(*) AS n_words, CAST(sum(cf) AS BIGINT) AS sum_cf,
        |  CAST(CAST(sum(cf) AS BIGINT) AS DOUBLE) / (count(*) * t.n_total) AS commonness
        |FROM w JOIN freq USING (word) CROSS JOIN tot t
        |GROUP BY doc_id, t.n_total
        |ORDER BY doc_id""".stripMargin,

    "q_events_funnel_time" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS MATERIALIZED (
        |  SELECT user_id, min(ts_us) AS t_v FROM e WHERE event_type = 'view'
        |  GROUP BY user_id),
        |p AS MATERIALIZED (
        |  SELECT e.user_id, min(e.ts_us) AS t_p
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > v.t_v
        |  GROUP BY e.user_id),
        |g AS MATERIALIZED (
        |  SELECT CAST(t_p - t_v AS DOUBLE) AS gap_us
        |  FROM v JOIN p ON v.user_id = p.user_id)
        |SELECT count(*) AS n_converted,
        |  CAST(min(gap_us) AS BIGINT) AS min_gap,
        |  quantile_cont(gap_us, 0.25) AS q1,
        |  quantile_cont(gap_us, 0.5) AS median,
        |  quantile_cont(gap_us, 0.75) AS q3,
        |  CAST(max(gap_us) AS BIGINT) AS max_gap
        |FROM g ORDER BY n_converted""".stripMargin,

    "q_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_cdc_diff" ->
      """SELECT o_orderkey, 'U' AS op, o_custkey, o_totalprice + 1000.0 AS o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 2
        |UNION ALL
        |SELECT o_orderkey, 'D', o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 3
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'I', o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 4
        |ORDER BY o_orderkey""".stripMargin,

    "q_cdc_apply" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 2 THEN o_totalprice + 2000.0
        |       WHEN o_orderkey % 10 = 2 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 10 <> 3
        |UNION ALL
        |SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 4
        |ORDER BY o_orderkey""".stripMargin,

    "q_feature_zscore" ->
      """WITH e AS MATERIALIZED (
        |  SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |st AS MATERIALIZED (
        |  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(cents * cents) AS BIGINT) AS sxx
        |  FROM e GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |  round((CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / n) /
        |        sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |             / n), 6) AS z
        |FROM e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q_feature_winsorize" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |  FROM lineitem WHERE l_orderkey % 5 = 0),
        |b AS MATERIALIZED (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.05) AS lo,
        |         quantile_cont(l_quantity, 0.95) AS hi
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, li.l_returnflag, l_quantity,
        |  least(greatest(l_quantity, lo), hi) AS clipped,
        |  CAST(l_quantity < lo OR l_quantity > hi AS BIGINT) AS was_clipped
        |FROM li JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_agg_ivm" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(strftime(o_orderdate, '%Y-%m-%d')) AS first_order,
        |  max(strftime(o_orderdate, '%Y-%m-%d')) AS last_order
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
  )

  /** shared by q_events_latest and its skew-immune agg twin (lazy:
    * declared below the strict `oracles` val that references it) */
  private lazy val EventsLatestSql =
    """SELECT user_id, event_id, ts_us, event_type, value FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin
}

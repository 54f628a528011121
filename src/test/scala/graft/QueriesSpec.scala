package graft

/** Smoke + shape checks for the query catalog on sf0.001. Full value-level
  * correctness is the DuckDB oracle gate (tools/check_oracle.py locally,
  * the driver's CORRECTNESS_r{N}.json per round).
  */
class QueriesSpec extends SparkSpec {

  test("every query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("testdata schemas match the engine's table contract (drift canary)") {
    // Round 7 lost 19 queries to a silent events.ts re-encode
    // (TIMESTAMP(NANOS) → timestamp[us]); this fails with a named drift
    // message instead of N opaque analysis errors. Tables.normalizeEventTs
    // absorbs the encodings the contract accepts.
    val drift = graft.core.Tables.schemaDrift(spark, sf("sf0.001"))
    assert(drift.isEmpty, drift.mkString("\n"))
    // and the canonical contract holds post-normalization: ts is nanos BIGINT
    val ev = graft.core.Tables.events(spark, sf("sf0.001"))
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val r = ev.selectExpr("min(ts)", "max(ts)").head
    // nanos since epoch land in [2000, 2100) — µs/ms mistakes are 3-6
    // orders of magnitude off and fail this range check
    assert(r.getLong(0) > 946684800L * 1000000000L && r.getLong(1) < 4102444800L * 1000000000L,
      s"events.ts not in nanos range: ${r.getLong(0)}..${r.getLong(1)}")
  }

  test("tables: a reload of an unchanged table runs no job; a rewritten one re-infers") {
    import graft.core.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val meter = graft.tools.QueryMeter(spark)
    try {
      spark.range(3).toDF("region_id").write.parquet(s"$dir/region.parquet")
      Tables.load(spark, dir, "region")
      val jobs = meter.jobs
      assert(Tables.load(spark, dir, "region").schema.fieldNames.toSeq == Seq("region_id"))
      assert(meter.jobs == jobs, "a reload of an unchanged table ran a job")
      spark.range(2).selectExpr("id AS r_regionkey", "'x' AS r_name")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val reread = Tables.load(spark, dir, "region")
      assert(reread.schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
      assert(reread.count() == 2L)
      // a missing table still fails with Spark's own error
      intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, "nation"))
    } finally meter.close()
  }

  test("every oracle key has a query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("bench queries exist") {
    assert(SparkEntry.benchQueries.nonEmpty)
    assert(SparkEntry.benchQueries.forall(SparkEntry.queries.contains))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx distinct within 5% of exact") {
    // the query's own apx_in_bound column carries the |apx-exact|/exact
    // <= 0.05 check (the oracle asserts it literally TRUE); here we just
    // require it to hold and the groups to be non-degenerate
    val rows = SparkEntry.queries("q_agg_approx_distinct")(spark, sf("sf0.01")).collect()
    assert(rows.length >= 3)
    rows.foreach { r =>
      assert(r.getBoolean(1), s"${r.getString(0)}: HLL++ estimate out of 5% bound")
    }
  }

  test("all queries run and are non-degenerate on sf0.001") {
    val allowedEmpty = Set("q_join_anti", "q_set_except") // genuinely empty at tiny sf
    // each face runs as one SparkEntry.run scope and must release all it took
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        var n = 0L
        leavesNothing(name)(SparkEntry.run(name, spark, sf("sf0.001"))(df => n = df.count()))
        if (n == 0 && !allowedEmpty(name)) Some(s"$name: 0 rows") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

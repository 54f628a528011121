package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.EventStreams

/** Streaming transforms verified against their batch twins: a parquet
  * directory drives the stream synchronously (processAllAvailable), and
  * results in the memory sink must equal the batch computation.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-events")
    Files.copy(
      Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** Batch twin of fromParquetDir: same canonical ts normalization, so the
    * spec's batch-vs-stream equalities are schema-encoding-agnostic. */
  private def batchEvents(path: String): org.apache.spark.sql.DataFrame =
    graft.core.Tables.normalizeEventTs(spark.read.parquet(path))

  test("hourly windowed counts: streaming result equals batch result") {
    val q = EventStreams.hourlyCounts(EventStreams.fromParquetDir(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hourly")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // append mode only emits windows the watermark has passed; compare on
    // the emitted subset
    val streamed = spark.table("hourly")
      .select(col("bucket").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)

    val batch = batchEvents(s"$eventsDir/events.parquet")
      .groupBy(date_trunc("hour", timestamp_micros(expr("ts div 1000"))).cast("string").as("b"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    streamed.foreach { case (k, n) => assert(batch(k) == n, s"window $k") }
  }

  test("built-in session_window streaming equals its batch execution") {
    val q = EventStreams.sessionWindows(EventStreams.fromParquetDir(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessw")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("sessw")
      .select(col("user_id"), col("t_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)

    // session_window also runs in batch — the same expression is its own twin
    val batch = batchEvents(s"$eventsDir/events.parquet")
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"),
        session_window(col("ts_utc"), "1800000 milliseconds").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").cast("string").as("s"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    streamed.foreach { case (k, n) => assert(batch(k) == n, s"session $k") }
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    // duplicate the whole input by writing it twice into one stream dir
    val dir = Files.createTempDirectory("graft-dup")
    Files.copy(Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = EventStreams.dedupedEvents(EventStreams.fromParquetDir(spark, dir.toString))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("deduped")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("deduped").count()
    val distinct = batchEvents(s"$eventsDir/events.parquet").count()
    assert(n == distinct) // 2x input, each event_id exactly once
  }

  test("streaming sessionization: closed sessions match the batch sessionize query") {
    val evs = EventStreams.fromParquetDir(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventStreams.Ev]
    val q = EventStreams.sessionize(evs)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // append mode emits only sessions closed by a later event or by the
    // advancing watermark; every emitted session must exist identically in
    // the batch result (same gap, same µs arithmetic)
    val streamed = spark.table("sessions")
      .select("user_id", "t_start_us", "t_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty)
    val batch = SparkEntry.queries("q_events_sessionize")(spark, sf("sf0.001"))
      .select("user_id", "t_start_us", "t_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val missing = streamed -- batch
    assert(missing.isEmpty, s"streamed sessions absent from batch: ${missing.take(3)}")
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = EventStreams.withRecentCheckpoints(EventStreams.fromParquetDir(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ckptjoin")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ckptjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val base = batchEvents(s"$eventsDir/events.parquet")
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
    val e = base.filter(col("event_id") % 10 =!= 0)
      .select(col("event_id"), col("user_id"), col("ts_utc"))
    val c = base.filter(col("event_id") % 10 === 0)
      .select(col("event_id").as("ckpt_id"), col("user_id").as("c_user"), col("ts_utc").as("c_ts"))
    val batch = e.join(c, expr(
        "user_id = c_user AND c_ts >= ts_utc - INTERVAL 1 HOUR AND c_ts <= ts_utc"))
      .select("event_id", "user_id", "ckpt_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-static broadcast enrichment equals the batch join") {
    val dim = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    val q = EventStreams.enriched(EventStreams.fromParquetDir(spark, eventsDir), dim)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enriched")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enriched")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val batch = batchEvents(s"$eventsDir/events.parquet")
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("foreachBatch idempotent sink: full replay appends nothing twice") {
    val base = Files.createTempDirectory("graft-sink")
    val target = base.resolve("target").toString
    val q1 = EventStreams.appendDeduped(
      EventStreams.fromParquetDir(spark, eventsDir), target,
      base.resolve("ck1").toString)
    q1.processAllAvailable(); q1.stop()
    val expected = batchEvents(s"$eventsDir/events.parquet")
      .dropDuplicates("event_id").count()
    assert(spark.read.parquet(target).count() == expected)

    // fresh checkpoint = the source re-delivers EVERYTHING (the stale-
    // checkpoint restart / at-least-once case); the anti-join upsert must
    // make the replay a no-op
    val q2 = EventStreams.appendDeduped(
      EventStreams.fromParquetDir(spark, eventsDir), target,
      base.resolve("ck2").toString)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(target).count() == expected)
  }

  test("streaming token-budget admission: quotas bind across micro-batches") {
    import graft.streaming.CorpusStreams
    import org.apache.spark.sql.expressions.Window
    val docsPath = sf("sf0.001") + "/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath)
    val quotas = batchDocs.select("source").distinct()
      .collect().map(_.getString(0) -> 500L).toMap
    // two files -> two deterministic micro-batches (maxFilesPerTrigger=1):
    // state must carry each source's used-token total across the boundary
    val dir = Files.createTempDirectory("graft-admit")
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("b0").toString)
    batchDocs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(dir.resolve("b1").toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
    val q = CorpusStreams.admitWithinBudget(
        CorpusStreams.withTokenCounts(stream).as[CorpusStreams.DocTokens], quotas)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("admitted")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("admitted")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // quotas are hard caps across the whole run
    got.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sum <= quotas(src), s"source $src over quota")
      assert(rows.map(_._4).max == rows.map(_._3).sum) // cum == running total
    }
    // replay: batch-wise first-fit in (batch, doc_id) order — file b0's
    // evens (doc_id order) then b1's odds, per source. AvailableNow with
    // maxFilesPerTrigger=1 processes files in discovery order; replicate
    // exactly and require equality.
    val toks = CorpusStreams.withTokenCounts(batchDocs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val fileOrder = toks.sortBy(t => (t._1 % 2, t._1)) // evens (b0) then odds (b1)
    val expect = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    val used = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    fileOrder.foreach { case (id, src, n) =>
      if (used(src) + n <= quotas(src)) {
        used(src) += n
        expect += ((id, src, n, used(src)))
      }
    }
    assert(got.toSet == expect.toSet,
      s"streaming admission diverged: extra=${(got.toSet -- expect.toSet).take(3)} missing=${(expect.toSet -- got.toSet).take(3)}")
  }

  test("streaming admission: one deliberately large single-source group") {
    import graft.streaming.CorpusStreams
    // the memory-contract case from the admitWithinBudget scaladoc: ONE
    // source's entire 50k-doc micro-batch slice is buffered and sorted on
    // one task — must complete and stay first-fit-deterministic
    val nDocs = 50000L
    val big = spark.range(nDocs).select(
      col("id").as("doc_id"), lit("s0").as("source"),
      (col("id") % 7 + 1).as("n_tokens"))
    val dir = Files.createTempDirectory("graft-admit-big")
    big.coalesce(1).write.parquet(dir.resolve("b0").toString)
    val quota = 100000L // ~half the ~200k total tokens
    val stream = spark.readStream.schema(big.schema).parquet(dir.toString + "/*")
    val q = CorpusStreams.admitWithinBudget(
        stream.as[CorpusStreams.DocTokens], Map("s0" -> quota))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("admitted_big")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("admitted_big")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // replicate first-fit in doc_id order exactly
    var used = 0L
    val expect = (0L until nDocs).flatMap { id =>
      val n = id % 7 + 1
      if (used + n <= quota) { used += n; Some((id, n, used)) } else None
    }
    assert(got.sortBy(_._1).toSeq == expect)
    assert(got.map(_._2).sum == used && used <= quota)
  }

  test("streaming exact-dedup screen: first occurrence wins within and across batches") {
    import graft.streaming.CorpusStreams
    // b0: docs 1,2 are copies (1 wins), 3 unique; b1: 4 copies b0's "a"
    // (cross-batch drop), 6 copies b0's "b", 5 and 7 are new
    val dir = Files.createTempDirectory("graft-dedupscreen")
    Seq(1L -> "a a a", 2L -> "a a a", 3L -> "b b").toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("b0").toString)
    Seq(4L -> "a a a", 5L -> "c", 6L -> "b b", 7L -> "d d d").toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir.resolve("b1").toString)
    val schema = spark.read.parquet(dir.resolve("b0").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
    val q = CorpusStreams.exactDedupScreen(stream)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_screen")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val admitted = spark.table("dedup_screen")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 7L))

    // streaming admitted set == the batch fingerprint dedup's keepers
    val union = Seq(1L -> "a a a", 2L -> "a a a", 3L -> "b b", 4L -> "a a a",
      5L -> "c", 6L -> "b b", 7L -> "d d d").toDF("doc_id", "text")
    val batchKeepers = graft.pipeline.Dedup.exactByFingerprint128(union)
      .select("keeper").collect().map(_.getLong(0)).toSet
    assert(admitted == batchKeepers)
  }

  test("streaming substring ingest: union of per-batch spans equals the batch run") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.Dedup
    val docsPath = sf("sf0.001") + "/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath).select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-ss-stream")
    // two deterministic micro-batches: evens land first, odds second
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("in/b0").toString)
    batchDocs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(dir.resolve("in/b1").toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/in/*")
    val q = CorpusStreams.substringIngest(stream,
      dir.resolve("index").toString, dir.resolve("spans").toString,
      dir.resolve("ck").toString)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(dir.resolve("spans").toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = Dedup.substringSpans(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // the grown index is the full corpus's gram relation
    assert(spark.read.parquet(dir.resolve("index").toString).count() ==
      Dedup.substringIndex(batchDocs).count())
  }

  test("streaming winnow ingest: union of per-batch pairs equals the batch run") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.Dedup
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-winnow-stream")
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("in/b0").toString)
    batchDocs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(dir.resolve("in/b1").toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/in/*")
    val q = CorpusStreams.winnowIngest(stream, dir.resolve("index").toString,
      dir.resolve("pairs").toString, dir.resolve("ck").toString)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(dir.resolve("pairs").toString)
      .select("doc_a", "doc_b", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.winnowPairs(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // grown index == the full corpus's fingerprint relation (doc-local
    // selection: per-batch union IS the batch build)
    assert(spark.read.parquet(dir.resolve("index").toString).count() ==
      Dedup.winnowIndex(batchDocs).count())
    // crash replay: re-running batch 1's foreachBatch body must change
    // nothing (reads exclude batch_id >= 1; writes overwrite partition 1)
    val before = spark.read.parquet(dir.resolve("pairs").toString).collect().toSet
    val q2 = CorpusStreams.winnowIngest(
      spark.readStream.schema(batchDocs.schema).option("maxFilesPerTrigger", 1)
        .parquet(dir.toString + "/in/*"),
      dir.resolve("index").toString, dir.resolve("pairs").toString,
      dir.resolve("ck").toString)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(dir.resolve("pairs").toString).collect().toSet == before)
  }

  test("streaming novelty ingest: ordered batches reproduce the batch scores, replay is a no-op") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.TextAnalysis
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-novelty-stream")
    // id-ordered micro-batches — the noveltyIngest arrival contract
    // (novelty is an ingest-order signal; ids ascend across batches)
    batchDocs.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(dir.resolve("in/b0").toString)
    batchDocs.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(dir.resolve("in/b1").toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/in/*")
    val q = CorpusStreams.noveltyIngest(stream, dir.resolve("index").toString,
      dir.resolve("scores").toString, dir.resolve("ck").toString)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(dir.resolve("scores").toString)
      .select("doc_id", "n_grams", "n_novel", "novelty_frac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = TextAnalysis.noveltyScores(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // the grown index is the full corpus's first-carrier relation once
    // the per-batch partitions are min-folded
    val grownIdx = spark.read.parquet(dir.resolve("index").toString)
      .groupBy("h").agg(min("first_doc").as("first_doc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIdx = TextAnalysis.noveltyIndex(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grownIdx == batchIdx)
    // crash-replay: re-running batch 1's body against the surviving state
    // (its own partitions included) must produce identical scores — the
    // read excludes batch_id >= 1, so the batch never sees itself
    val b1 = batchDocs.filter(col("doc_id") >= 250)
    val replayIdx = spark.read.parquet(dir.resolve("index").toString)
      .filter(col("batch_id") < 1)
      .groupBy("h").agg(min("first_doc").as("first_doc"))
    val replayed = TextAnalysis.incrementalNoveltyScores(replayIdx, b1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val b1Streamed = spark.read.parquet(dir.resolve("scores").toString)
      .filter(col("batch_id") === 1)
      .select("doc_id", "n_grams", "n_novel", "novelty_frac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(replayed == b1Streamed)
  }

  test("streaming importance ingest: prefix-df scores, grown index, replay no-op") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.TextAnalysis
    val all = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val target = all.filter(col("doc_id") % 10 === 7).localCheckpoint(true)
    val raw = all.filter(col("doc_id") % 10 =!= 7)
    val dir = Files.createTempDirectory("graft-imp-stream")
    raw.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(dir.resolve("in/b0").toString)
    raw.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(dir.resolve("in/b1").toString)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.importanceIngest(stream, target,
      dir.resolve("index").toString, dir.resolve("scores").toString,
      dir.resolve("ck").toString)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "t_mass", "r_mass", "affinity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val scores = spark.read.parquet(dir.resolve("scores").toString)
    // batch 0 saw an empty index: its scores ARE the plain batch run on b0
    assert(rows(scores.filter(col("batch_id") === 0)) ==
      rows(TextAnalysis.importanceScores(raw.filter(col("doc_id") < 250), target)))
    // batch 1's stored side is exactly all ids < 250, so its emission
    // equals the FULL-corpus batch run restricted to the batch (the
    // certified q_sample_importance_inc contract)
    assert(rows(scores.filter(col("batch_id") === 1)) ==
      rows(TextAnalysis.importanceScores(raw, target)
        .filter(col("doc_id") >= 250)))
    // the grown index sum-folds to the full corpus's carrier counts
    val grown = spark.read.parquet(dir.resolve("index").toString)
      .groupBy("h").agg(sum("r_df").as("r_df")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown == TextAnalysis.importanceIndex(raw).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // crash-replay of batch 1 against surviving state (its own partitions
    // present): the read excludes batch_id >= 1, so nothing changes
    val replayIdx = spark.read.parquet(dir.resolve("index").toString)
      .filter(col("batch_id") < 1).groupBy("h").agg(sum("r_df").as("r_df"))
    assert(rows(TextAnalysis.incrementalImportanceScores(
        replayIdx, target, raw.filter(col("doc_id") >= 250))) ==
      rows(scores.filter(col("batch_id") === 1)))
  }

  test("streaming importance ingest: compaction bounds partitions, scores unchanged") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.TextAnalysis
    val all = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val target = all.filter(col("doc_id") % 10 === 7).localCheckpoint(true)
    val raw = all.filter(col("doc_id") % 10 =!= 7)
    val dir = Files.createTempDirectory("graft-imp-compact")
    // four doc_id-ordered micro-batches; compactEvery=2 folds at batch 2
    Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> Long.MaxValue)
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        raw.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
          .write.parquet(dir.resolve(s"in/b$i").toString)
      }
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.importanceIngest(stream, target,
      dir.resolve("index").toString, dir.resolve("scores").toString,
      dir.resolve("ck").toString, k = 2, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    // batches 0 and 1 were folded into partition 2 and deleted: the index
    // holds exactly {2 (the fold), 3} — bounded steady-state reads
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the fold lost nothing: sum-merge over the surviving partitions
    // equals the full-corpus carrier counts
    val grown = spark.read.parquet(dir.resolve("index").toString)
      .groupBy("h").agg(sum("r_df").as("r_df")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown == TextAnalysis.importanceIndex(raw).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // and the post-compaction batch still scores on the exact prefix:
    // batch 3's emission equals the full-corpus batch run on its slice
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "t_mass", "r_mass", "affinity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val scores = spark.read.parquet(dir.resolve("scores").toString)
    assert(rows(scores.filter(col("batch_id") === 3)) ==
      rows(TextAnalysis.importanceScores(raw, target)
        .filter(col("doc_id") >= 375)))
  }

  test("streaming curate ingest: admissions equal the one-shot batch curate screen") {
    import graft.streaming.CorpusStreams
    val docsPath = sf("sf0.001") + "/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath).select("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft-curate")
    // three doc_id-ordered micro-batches — the curateIngest arrival
    // contract (ids ascend across batches)
    batchDocs.filter(col("doc_id") < 200).coalesce(1)
      .write.parquet(dir.resolve("in/b0").toString)
    batchDocs.filter(col("doc_id") >= 200 && col("doc_id") < 400).coalesce(1)
      .write.parquet(dir.resolve("in/b1").toString)
    batchDocs.filter(col("doc_id") >= 400).coalesce(1)
      .write.parquet(dir.resolve("in/b2").toString)
    // binding quotas (each source carries ~1900 estimated tokens at
    // sf0.001) so admission actually rejects; src19 has NO quota — the
    // drop-unquoted path
    val quotas = (0 to 18).map(i => s"src$i" -> 800L).toMap
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/in/*")
    val q = CorpusStreams.curateIngest(stream, dir.resolve("state").toString,
      dir.resolve("admitted").toString, dir.resolve("ck").toString, quotas)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(dir.resolve("admitted").toString)
      .select("doc_id", "source", "lang_pred", "n_words", "n_tokens", "cum_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batch = CorpusStreams.curateScreenBatch(batchDocs, quotas).collect()
      .map(a => (a.doc_id, a.source, a.lang_pred, a.n_words, a.n_tokens,
        a.cum_tokens)).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // quotas must have bitten (else the admission stage proved nothing)
    assert(streamed.size < batchDocs.count(),
      "admission never rejected — quotas not binding in this fixture")
    assert(!streamed.exists(_._2 == "src19"), "unquoted source leaked through")
  }

  test("curate ingest replay: re-running a crashed batch changes nothing") {
    import graft.streaming.CorpusStreams
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft-curate-replay")
    val state = dir.resolve("state").toString
    val admitted = dir.resolve("admitted").toString
    val quotas = (0 to 19).map(i => s"src$i" -> 800L).toMap
    val b0 = batchDocs.filter(col("doc_id") < 250)
    val b1 = batchDocs.filter(col("doc_id") >= 250)
    def snapshot(): (Set[Seq[Any]], Set[Seq[Any]], Long, Set[Seq[Any]]) = (
      spark.read.parquet(admitted)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$state/fp_index")
        .select("fp_hi", "fp_lo", "len").collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$state/sig_index").count(),
      spark.read.parquet(s"$state/totals")
        .select(col("source"), col("used"), col("batch_id").cast("long"))
        .collect().map(_.toSeq).toSet)
    CorpusStreams.curateBatch(b0, 0L, state, admitted, quotas)
    CorpusStreams.curateBatch(b1, 1L, state, admitted, quotas)
    val before = snapshot()
    assert(before._1.nonEmpty && before._2.nonEmpty)
    // the crash-replay shape: batch 1 runs again with its own partial
    // state already on disk — reads must exclude it, writes must replace
    CorpusStreams.curateBatch(b1, 1L, state, admitted, quotas)
    assert(snapshot() == before)
  }

  test("streaming decontamination equals batch decontamination") {
    import graft.pipeline.Decontam
    // documents stream; eval slice = doc_id % 50 == 0 (the batch query's split)
    val docsPath = sf("sf0.001") + "/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath)
    val evalGrams = Decontam.evalGramSet(batchDocs.filter(col("doc_id") % 50 === 0))
    val dir = Files.createTempDirectory("graft-docs")
    Files.copy(Paths.get(docsPath), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val docsSchema = batchDocs.schema
    val stream = spark.readStream.schema(docsSchema).parquet(dir.toString)
      .filter(col("doc_id") % 50 =!= 0)
    val q = Decontam.decontaminateStreaming(stream, evalGrams)
      .select("doc_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decontam")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("decontam").collect().map(_.getLong(0)).toSet
    val batch = Decontam.decontaminate(
        batchDocs.filter(col("doc_id") % 50 =!= 0),
        batchDocs.filter(col("doc_id") % 50 === 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch && streamed.nonEmpty)

    // the large-gram-set variant (broadcast sorted array + binary-search
    // probe) must be semantically identical to the literal-array form
    val trainDocs = batchDocs.filter(col("doc_id") % 50 =!= 0)
    val viaLiteral = Decontam.decontaminateStreaming(trainDocs, evalGrams)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBroadcast = Decontam.decontaminateStreamingLarge(trainDocs, evalGrams)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBroadcast == viaLiteral && viaBroadcast == batch)
  }

  test("streaming near-dup screen equals its batch execution") {
    import graft.pipeline.Similarity
    val embPath = sf("sf0.001") + "/embeddings.parquet"
    val batchEmb = spark.read.parquet(embPath)
    val index = batchEmb.filter(col("vec_id") % 2 === 0)
    val dir = Files.createTempDirectory("graft-embs")
    Files.copy(Paths.get(embPath), dir.resolve("embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(batchEmb.schema).parquet(dir.toString)
      .filter(col("vec_id") % 2 === 1)
    val q = Similarity.nearDupScreen(stream, index, 0.4)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ndscreen")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = spark.table("ndscreen").collect().map(key).toSet
    val batch = Similarity.nearDupScreen(
        batchEmb.filter(col("vec_id") % 2 === 1), index, 0.4)
      .collect().map(key).toSet
    assert(streamed == batch)
    // exact-once: no pair may appear twice even when it shares several buckets
    val rows = spark.table("ndscreen").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length)
  }

  test("winnow ingest compaction: partitions bounded, pairs unchanged") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.Dedup
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-winnow-compact")
    // four micro-batches; compactEvery=2 folds prior prints at batch 2
    (0 until 4).foreach { i =>
      batchDocs.filter(col("doc_id") % 4 === i).coalesce(1)
        .write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.winnowIngest(stream, dir.resolve("index").toString,
      dir.resolve("pairs").toString, dir.resolve("ck").toString,
      compactEvery = 2)
    q.processAllAvailable(); q.stop()
    // batches 0,1 were folded into partition 2 and deleted — the index
    // holds exactly {2 (the fold, incl. batch 2's own prints), 3}
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the concatenation fold lost nothing: the surviving partitions hold
    // the full corpus's fingerprint relation
    val grown = spark.read.parquet(dir.resolve("index").toString)
      .select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown == Dedup.winnowIndex(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // pair union still equals the one-shot batch run (winnow pairs are
    // NOT order-sensitive: doc-local selection + symmetric join)
    val streamed = spark.read.parquet(dir.resolve("pairs").toString)
      .select("doc_a", "doc_b", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dedup.winnowPairs(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("substring ingest compaction: partitions bounded, spans unchanged") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.Dedup
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-ss-compact")
    (0 until 4).foreach { i =>
      batchDocs.filter(col("doc_id") % 4 === i).coalesce(1)
        .write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.substringIngest(stream,
      dir.resolve("index").toString, dir.resolve("spans").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    val grown = spark.read.parquet(dir.resolve("index").toString)
      .select("doc_id", "pos", "h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(grown == Dedup.substringIndex(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    val streamed = spark.read.parquet(dir.resolve("spans").toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = Dedup.substringSpans(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("editjoin ingest: per-batch pair union equals the one-shot join, index compacts") {
    import graft.streaming.CorpusStreams
    import graft.ops.EditJoin
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_custkey", "c_name")
    val dir = Files.createTempDirectory("graft-ej-ingest")
    (0 until 4).foreach { i =>
      cust.filter(col("c_custkey") % 4 === i).coalesce(1)
        .write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val stream = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.editJoinIngest(stream, "c_custkey", "c_name",
      dir.resolve("index").toString, dir.resolve("pairs").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    // batches 0,1 folded into partition 2 and deleted
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the concatenation fold lost nothing: the surviving partitions hold
    // the full corpus's variant relation
    val grown = spark.read.parquet(dir.resolve("index").toString)
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(grown == EditJoin.variantIndex(cust, "c_custkey", "c_name")
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
    // each pair is emitted exactly once, at its later member's batch —
    // the union equals the one-shot join (doc-local blocking, no caveat)
    val streamed = spark.read.parquet(dir.resolve("pairs").toString)
      .select("id1", "id2", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = EditJoin.pairsWithin1(cust, "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.length == streamed.toSet.size, "a pair was emitted twice")
    assert(streamed.toSet == batch && batch.nonEmpty,
      s"extra=${(streamed.toSet -- batch).take(3)} missing=${(batch -- streamed.toSet).take(3)}")
    // FILE count stays bounded, not just partition count (r15 verdict
    // item 6): the concatenation fold rewrites prior batches into one
    // partition, so steady-state small-file growth is capped
    import scala.jdk.CollectionConverters._
    def dataFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter(f => !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith("."))
        .toSeq
    // two surviving batch partitions × at most one file per task slot
    // (+ slack): linear-in-batches growth would already exceed this here
    val idxFiles = dataFiles(dir.resolve("index"))
    assert(idxFiles.size <= 4 * spark.sparkContext.defaultParallelism,
      s"index holds ${idxFiles.size} data files after compaction")
    // replay-after-compaction (the marker protocol, driven directly —
    // the curateBatch pattern): re-running the batch-2 compaction
    // trigger finds its own `_compacted_2` marker, finishes the deletes
    // and no-ops — index and pairs stay content-identical
    def snapshot() = (
      spark.read.parquet(dir.resolve("index").toString)
        .select("id", "s", "v").collect().map(_.toSeq).toSet,
      spark.read.parquet(dir.resolve("pairs").toString)
        .select("id1", "id2", "dist").collect().map(_.toSeq).toSet)
    val before = snapshot()
    graft.streaming.CorpusStreams.editJoinBatch(
      cust.filter(col("c_custkey") % 4 === 2), 2L, "c_custkey", "c_name",
      dir.resolve("index").toString, dir.resolve("pairs").toString,
      compactEvery = 2)
    assert(snapshot() == before,
      "replaying the compaction batch changed the store")
  }

  /** Every row of a batch-partitioned dir, batch_id included, as a sorted
    * multiset: a duplicated partition shows here, unlike in a row set. */
  private def dirRows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.mkString("|")).toSeq.sorted

  /** Drives a stored-index trigger directly over three batches with
    * compactEvery = 2, and re-runs batch 1 and the compaction batch 2
    * right after each lands — a crash after the writes, before the
    * stream commits the batch. Batch 1's replay must overwrite its own
    * partitions; batch 2's must find its marker and do nothing. Either
    * way the index and output dirs stay content-identical. */
  private def assertTriggerReplays(family: String, batches: Seq[org.apache.spark.sql.DataFrame])(
      trigger: (org.apache.spark.sql.DataFrame, Long, String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-$family-replay")
    val (index, out) = (dir.resolve("index").toString, dir.resolve("out").toString)
    def snapshot() = (dirRows(index), dirRows(out))
    batches.zipWithIndex.foreach { case (b, i) =>
      trigger(b, i.toLong, index, out)
      val before = snapshot()
      if (i > 0) {
        trigger(b, i.toLong, index, out)
        val after = snapshot()
        // row counts gained/lost per dir, (index, output)
        val changed = Seq(after._1 diff before._1, before._1 diff after._1,
          after._2 diff before._2, before._2 diff after._2).map(_.size)
        assert(changed.forall(_ == 0),
          s"$family: replaying batch $i changed the store (index +/-, output +/-): $changed")
      }
    }
    val pids = spark.read.parquet(index).select(col("batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(pids == Set(2L), s"$family: batch 2 did not compact the index: $pids")
    assert(dirRows(out).nonEmpty, s"$family: no batch emitted anything")
  }

  /** the sf0.001 documents in three doc_id-ordered micro-batches */
  private lazy val docBatches: Seq[org.apache.spark.sql.DataFrame] = {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue).map { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
  }

  test("substring trigger replay: batch 1 overwrites its partition, the compaction batch is a marker no-op") {
    assertTriggerReplays("substring", docBatches) { (b, id, index, out) =>
      graft.streaming.CorpusStreams.substringBatch(b, id, index, out,
        k = 8, minLen = 16, maxOcc = 1000L, compactEvery = 2)
    }
  }

  test("winnow trigger replay: batch 1 overwrites its partition, the compaction batch is a marker no-op") {
    assertTriggerReplays("winnow", docBatches) { (b, id, index, out) =>
      graft.streaming.CorpusStreams.winnowBatch(b, id, index, out,
        k = 3, w = 4, minShared = 4L, compactEvery = 2)
    }
  }

  test("novelty trigger replay: batch 1 overwrites its partition, the compaction batch is a marker no-op") {
    assertTriggerReplays("novelty", docBatches) { (b, id, index, out) =>
      graft.streaming.CorpusStreams.noveltyBatch(b, id, index, out,
        k = 4, compactEvery = 2)
    }
  }

  test("importance trigger replay: batch 1 overwrites its partition, the compaction batch is a marker no-op") {
    val target = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") % 10 === 7)
      .localCheckpoint(true)
    assertTriggerReplays("importance",
        docBatches.map(_.filter(col("doc_id") % 10 =!= 7))) { (b, id, index, out) =>
      graft.streaming.CorpusStreams.importanceBatch(b, id, target, index, out,
        k = 2, compactEvery = 2)
    }
  }

  test("editjoin trigger replay: batch 1 overwrites its partition, the compaction batch is a marker no-op") {
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_custkey", "c_name")
    assertTriggerReplays("editjoin",
        (0 until 3).map(i => cust.filter(col("c_custkey") % 3 === i))) { (b, id, index, out) =>
      graft.streaming.CorpusStreams.editJoinBatch(b, id, "c_custkey", "c_name",
        index, out, compactEvery = 2)
    }
  }

  test("novelty ingest compaction: partitions bounded, min-folded index and scores unchanged") {
    import graft.streaming.CorpusStreams
    import graft.pipeline.TextAnalysis
    val all = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-novelty-compact")
    // four doc_id-ordered micro-batches (the novelty arrival contract);
    // compactEvery=2 folds at batch 2
    Seq(0L -> 125L, 125L -> 250L, 250L -> 375L, 375L -> Long.MaxValue)
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        all.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
          .write.parquet(dir.resolve(s"in/b$i").toString)
      }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.noveltyIngest(stream, dir.resolve("index").toString,
      dir.resolve("scores").toString, dir.resolve("ck").toString,
      compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val index = spark.read.parquet(dir.resolve("index").toString)
    val pids = index.select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the min-fold lost nothing: the surviving partitions min-fold to the
    // full corpus's first-carrier relation
    val grown = index.groupBy("h").agg(min("first_doc").as("first_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grown == TextAnalysis.noveltyIndex(all).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    def scores(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_grams", "n_novel", "novelty_frac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = scores(spark.read.parquet(dir.resolve("scores").toString))
    val batch = scores(TextAnalysis.noveltyScores(all))
    assert(streamed.nonEmpty && streamed == batch,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("stored-index trigger: an index dir without batch_id fails loudly, naming the dir") {
    import graft.streaming.CorpusStreams
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-old-layout")
    val index = dir.resolve("index").toString
    // the old append layout: index rows with no batch_id partition column
    graft.pipeline.Dedup.winnowIndex(docs.filter(col("doc_id") < 250))
      .write.parquet(index)
    val e = intercept[IllegalArgumentException] {
      CorpusStreams.winnowBatch(docs.filter(col("doc_id") >= 250), 1L, index,
        dir.resolve("pairs").toString, k = 3, w = 4, minShared = 4L,
        compactEvery = 16)
    }
    assert(e.getMessage.contains(index), e.getMessage)
  }

  /** Drives `trigger` over `batches` (ids 0, 1, 2: append, append,
    * compact) and asserts each run [[leavesNothing]] — the family kernel's
    * own checkpoints included. */
  private def assertTriggerReleases(name: String, batches: Seq[org.apache.spark.sql.DataFrame])(
      trigger: (org.apache.spark.sql.DataFrame, Long, String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-$name-release")
    batches.zipWithIndex.foreach { case (b, i) =>
      leavesNothing(s"$name batch $i") {
        trigger(b, i.toLong, dir.resolve("a").toString, dir.resolve("b").toString)
      }
    }
  }

  test("stored-index trigger releases every checkpoint it takes") {
    import graft.streaming.CorpusStreams
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_custkey", "c_name")
    val custBatches = (0 until 3).map(i => cust.filter(col("c_custkey") % 3 === i))
    assertTriggerReleases("editjoin", custBatches) { (b, id, index, out) =>
      CorpusStreams.editJoinBatch(b, id, "c_custkey", "c_name", index, out, compactEvery = 2)
    }
    // the text families' kernels take batch-gram checkpoints of their own
    assertTriggerReleases("substring", docBatches) { (b, id, index, out) =>
      CorpusStreams.substringBatch(b, id, index, out,
        k = 8, minLen = 16, maxOcc = 1000L, compactEvery = 2)
    }
    assertTriggerReleases("winnow", docBatches) { (b, id, index, out) =>
      CorpusStreams.winnowBatch(b, id, index, out, k = 3, w = 4, minShared = 4L, compactEvery = 2)
    }
    assertTriggerReleases("novelty", docBatches) { (b, id, index, out) =>
      CorpusStreams.noveltyBatch(b, id, index, out, k = 4, compactEvery = 2)
    }
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val target = docs.select("doc_id", "text").filter(col("doc_id") % 10 === 7)
    assertTriggerReleases("importance",
        docBatches.map(_.filter(col("doc_id") % 10 =!= 7))) { (b, id, index, out) =>
      CorpusStreams.importanceBatch(b, id, target, index, out, k = 2, compactEvery = 2)
    }
    val quotas = (0 to 19).map(i => s"src$i" -> 800L).toMap
    assertTriggerReleases("curate", Seq(docs.filter(col("doc_id") < 150),
        docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
        docs.filter(col("doc_id") >= 300))) { (b, id, state, admitted) =>
      CorpusStreams.curateBatch(b, id, state, admitted, quotas, compactEvery = 2)
    }
    assertTriggerReleases("sn", custBatches) { (b, id, st, pairs) =>
      graft.ops.SortedNeighborhood.ingestLocalStore(spark, st, pairs, b,
        "c_custkey", "c_name", 4, id)
    }
  }

  test("sn ingest: running pair store equals the one-shot blocking; writes are batch-proportional") {
    import graft.streaming.CorpusStreams
    import graft.ops.SortedNeighborhood
    import scala.jdk.CollectionConverters._
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .select("c_custkey", "c_name")
    val dir = Files.createTempDirectory("graft-sn-ingest")
    // batches 0..3 build the store; batch 4 is a SMALL clustered append
    // (the last 8 keys in sort order) for the bounded-write meter
    val tail = cust.orderBy(desc("c_name")).limit(8)
      .localCheckpoint(eager = true)
    val head = cust.join(tail.select("c_custkey"), Seq("c_custkey"),
      "left_anti").localCheckpoint(eager = true)
    (0 until 4).foreach { i =>
      head.filter(col("c_custkey") % 4 === i).coalesce(1)
        .write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val stream = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.snIngest(stream, "c_custkey", "c_name",
      dir.resolve("state").toString, dir.resolve("pairs").toString,
      dir.resolve("ck").toString, w = 4)
    q.processAllAvailable(); q.stop()
    // after the 4 build batches the store equals the one-shot run
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id1", "id2", "gap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mid = pairSet(SortedNeighborhood.readLocalPairs(spark,
      dir.resolve("pairs").toString))
    val midExpected = pairSet(
      SortedNeighborhood.pairs(head, "c_custkey", "c_name", 4))
    assert(mid == midExpected && mid.nonEmpty,
      s"extra=${(mid -- midExpected).take(3)} missing=${(midExpected -- mid).take(3)}")
    // bounded-write meter (the r15 verdict item): restart the stream
    // with one small append batch and meter filesystem BYTES WRITTEN —
    // the fold must rewrite touched partitions + the tiny bounds, not a
    // corpus-sized snapshot
    def dirBytes(p: java.nio.file.Path): Long =
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    val storeBytes = dirBytes(dir.resolve("state")) + dirBytes(dir.resolve("pairs"))
    def fsBytesWritten(): Long = org.apache.hadoop.fs.FileSystem
      .getAllStatistics.asScala.map(_.getBytesWritten).sum
    tail.coalesce(1).write.parquet(dir.resolve("in/b4").toString)
    val before = fsBytesWritten()
    val stream2 = spark.readStream.schema(cust.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q2 = CorpusStreams.snIngest(stream2, "c_custkey", "c_name",
      dir.resolve("state").toString, dir.resolve("pairs").toString,
      dir.resolve("ck").toString, w = 4)
    q2.processAllAvailable(); q2.stop()
    val written = fsBytesWritten() - before
    assert(written < storeBytes,
      s"append trigger wrote $written B against a $storeBytes B store — " +
        "the corpus-sized snapshot write is back")
    // the appended store equals the one-shot run over everything arrived
    val streamed = pairSet(SortedNeighborhood.readLocalPairs(spark,
      dir.resolve("pairs").toString))
    val batch = pairSet(SortedNeighborhood.pairs(cust, "c_custkey", "c_name", 4))
    assert(streamed == batch && batch.nonEmpty,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // ...and the state's reconstructed global rank is the exact 0..n-1
    val ranks = SortedNeighborhood.readLocalState(spark,
        dir.resolve("state").toString)
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = cust.select("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(ranks == expected)
  }

  test("sn ingest: a replayed fold is idempotent — state, pairs, and bounds unchanged") {
    import graft.ops.SortedNeighborhood
    // drive the store directly (no stream) so the replay is exact: fold
    // batch 1 twice under the same id — the second run must find its own
    // rows, heal them out, and rewrite byte-identical content (the
    // crash-between-write-and-checkpoint-commit scenario, worst case:
    // every write of the first run completed)
    val all = (1L to 400L).map(i => (i, f"key$i%06d"))
    val df = all.toDF("id", "k")
    val base = df.filter(col("id") <= 360L)
    val batch = df.filter(col("id") > 360L)
    val dir = Files.createTempDirectory("graft-sn-replay")
    val st = dir.resolve("state").toString; val pr = dir.resolve("pairs").toString
    SortedNeighborhood.ingestLocalStore(spark, st, pr, base, "id", "k", 4, 0L)
    SortedNeighborhood.ingestLocalStore(spark, st, pr, batch, "id", "k", 4, 1L)
    def snapshot() = (
      SortedNeighborhood.readLocalState(spark, st)
        .collect().map(_.toSeq).toSet,
      SortedNeighborhood.readLocalPairs(spark, pr)
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(st + SortedNeighborhood.BoundsSuffix)
        .collect().map(_.toSeq).toSet)
    val first = snapshot()
    SortedNeighborhood.ingestLocalStore(spark, st, pr, batch, "id", "k", 4, 1L)
    assert(snapshot() == first, "replay changed the store")
    // and the replayed store still equals the one-shot run
    val pairs = SortedNeighborhood.readLocalPairs(spark, pr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = SortedNeighborhood.pairs(df, "id", "k", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == oneShot && pairs.nonEmpty)
  }

  test("curate compaction: state bounded, replay of the compaction batch is a marker no-op") {
    import graft.streaming.CorpusStreams
    val batchDocs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text", "source")
    val dir = Files.createTempDirectory("graft-curate-compact")
    val state = dir.resolve("state").toString
    val admitted = dir.resolve("admitted").toString
    val quotas = (0 to 19).map(i => s"src$i" -> 800L).toMap
    // id-ordered batches (the curate arrival contract); compactEvery=2
    // folds fp/sig/totals at batch 2
    val slices = Seq(
      batchDocs.filter(col("doc_id") < 150),
      batchDocs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      batchDocs.filter(col("doc_id") >= 300))
    slices.zipWithIndex.foreach { case (b, i) =>
      CorpusStreams.curateBatch(b, i.toLong, state, admitted, quotas,
        compactEvery = 2)
    }
    def pidsOf(sub: String): Set[Long] =
      spark.read.parquet(s"$state/$sub")
        .select(col("batch_id").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSet
    // batch 2 folded partitions 0,1 into 2 for every state dir
    assert(pidsOf("fp_index") == Set(2L), pidsOf("fp_index"))
    assert(pidsOf("sig_index") == Set(2L), pidsOf("sig_index"))
    assert(pidsOf("totals") == Set(2L), pidsOf("totals"))
    // the compacted run still equals the one-shot screen
    val streamed = spark.read.parquet(admitted)
      .select("doc_id", "source", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val oneShot = CorpusStreams.curateScreenBatch(batchDocs, quotas).collect()
      .map(a => (a.doc_id, a.source, a.cum_tokens)).toSet
    assert(streamed == oneShot && streamed.nonEmpty,
      s"extra=${(streamed -- oneShot).take(3)} missing=${(oneShot -- streamed).take(3)}")
    // crash-after-marker replay: re-running the compaction batch finds
    // its marker and no-ops (finishing only the deletes) — state,
    // admissions, and partition layout all unchanged
    def snap(): (Set[Long], Set[Long], Set[Long], Set[Any]) = (
      pidsOf("fp_index"), pidsOf("sig_index"), pidsOf("totals"),
      spark.read.parquet(admitted).collect().map(_.toSeq: Any).toSet)
    val before = snap()
    CorpusStreams.curateBatch(slices(2), 2L, state, admitted, quotas,
      compactEvery = 2)
    assert(snap() == before)
  }

  test("quantile ingest: running profile equals the batch sketch, compaction bounds partitions") {
    import graft.streaming.CorpusStreams
    import graft.ops.QuantileSketch
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft-quant-stream")
    // four arbitrary micro-batches — the sketch is a pure function of
    // the multiset, so boundaries cannot matter
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "value")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val vexpr = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    val q = CorpusStreams.quantileIngest(stream, "event_type", vexpr,
      dir.resolve("index").toString, dir.resolve("profile").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    // compaction at batch 2 folded partitions 0,1 — index holds {2, 3}
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the batch-3 profile equals the one-shot sketch over ALL events
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "n", "p50", "p90", "p99").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val streamed = rows(spark.read.parquet(dir.resolve("profile").toString)
      .filter(col("batch_id") === 3))
    val batch = rows(QuantileSketch.quantiles(
      QuantileSketch.sketch(ev, Seq("event_type"), vexpr),
      Seq("event_type"), Seq(50, 90, 99)))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("cms ingest: running sketch equals the batch sketch, compaction bounds partitions") {
    import graft.streaming.CorpusStreams
    import graft.ops.CountMin
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft-cms-stream")
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "value")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val kexpr = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    val q = CorpusStreams.cmsIngest(stream, "event_type", kexpr,
      dir.resolve("index").toString, dir.resolve("sketch").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    // compaction at batch 2 folded partitions 0,1 — index holds {2, 3}
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the batch-3 running sketch equals the one-shot cells over ALL
    // events, cell-for-cell (linearity across arbitrary batch cuts)
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "r", "c", "cnt").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = cells(spark.read.parquet(dir.resolve("sketch").toString)
      .filter(col("batch_id") === 3))
    val batch = cells(CountMin.sketch(ev, Seq("event_type"), kexpr))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("bloom ingest: running filter equals the batch filter; replayed overlap is absorbed") {
    import graft.streaming.CorpusStreams
    import graft.ops.BloomSketch
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft-bloom-stream")
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "value")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val kexpr = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    val q = CorpusStreams.bloomIngest(stream, "event_type", kexpr,
      dir.resolve("index").toString, dir.resolve("filter").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    def bits(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "r", "c").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val streamed = bits(spark.read.parquet(dir.resolve("filter").toString)
      .filter(col("batch_id") === 3))
    val batch = bits(BloomSketch.sketch(ev, Seq("event_type"), kexpr))
    assert(streamed == batch && streamed.nonEmpty)
    // the idempotence claim: OR-merging an ALREADY-INGESTED batch's bits
    // into the final state changes nothing — at-least-once delivery
    // cannot corrupt a Bloom fold (a linear CMS would double-count here)
    val overlap = BloomSketch.sketch(
      ev.filter(col("event_id") % 4 === 1), Seq("event_type"), kexpr)
    val replayed = bits(BloomSketch.merge(
      spark.read.parquet(dir.resolve("filter").toString)
        .filter(col("batch_id") === 3)
        .select("event_type", "r", "c")
        .unionByName(overlap), Seq("event_type")))
    assert(replayed == streamed)
  }

  test("hll ingest: running estimates equal the batch sketch; max-fold absorbs replayed overlap") {
    import graft.streaming.CorpusStreams
    import graft.ops.Hll
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "user_id")
    val dir = Files.createTempDirectory("graft-hll-stream")
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "user_id")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "user_id").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.hllIngest(stream, "event_type", "user_id",
      dir.resolve("index").toString, dir.resolve("est").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the batch-3 estimates equal the one-shot sketch over ALL events
    def ests(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "apx_parts").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val streamed = ests(spark.read.parquet(dir.resolve("est").toString)
      .filter(col("batch_id") === 3))
    val batch = ests(Hll.estimate(
      Hll.registers(ev, Seq("event_type"), "user_id"), Seq("event_type")))
    assert(streamed == batch && streamed.nonEmpty)
    // idempotence: max-merging an ALREADY-INGESTED batch's registers
    // into the final folded state changes nothing (at-least-once safety,
    // the Bloom property — sum-fold sketches do not have this)
    val finalRegs = spark.read.parquet(dir.resolve("index").toString)
      .select("event_type", "bkt", "mlow")
    val overlap = Hll.registers(
      ev.filter(col("event_id") % 4 === 1), Seq("event_type"), "user_id")
    def regset(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "bkt", "mlow").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val folded = regset(Hll.merge(finalRegs, Seq("event_type")))
    val replayed = regset(Hll.merge(
      finalRegs.unionByName(overlap), Seq("event_type")))
    assert(replayed == folded)
  }

  test("mg ingest: running summary equals the replayed merge tree; band holds on the union") {
    import graft.streaming.CorpusStreams
    import graft.ops.MisraGries
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "user_id")
    val dir = Files.createTempDirectory("graft-mg-stream")
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "user_id")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "user_id").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    // low-cardinality ramp key so the top-K extraction is non-trivial
    val kexpr = "CAST(floor(sqrt(user_id)) AS BIGINT)"
    val q = CorpusStreams.mgIngest(stream, "event_type", kexpr,
      dir.resolve("index").toString, dir.resolve("summary").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // MG is NOT a pure function of the multiset (unlike the four hashed
    // families): merge(sk(A), sk(B)) != sk(A ∪ B) pointwise — so the
    // parity target is the ingest's OWN merge tree, replayed in batch:
    // s0..s2 fold at the batch-2 compaction, then s3 merges in
    def summ(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "k", "est").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val s = (0 until 4).map(i => MisraGries.summary(
      ev.filter(col("event_id") % 4 === i), Seq("event_type"), kexpr))
    val m2 = MisraGries.merge(
      s(0).unionByName(s(1)).unionByName(s(2)), Seq("event_type"))
    val expect = summ(MisraGries.merge(m2.unionByName(s(3)), Seq("event_type")))
    val streamed = summ(spark.read.parquet(dir.resolve("summary").toString)
      .filter(col("batch_id") === 3))
    assert(streamed == expect && streamed.nonEmpty)
    // ...and the N/(K+1) band holds against the UNION's exact counts,
    // whatever the batch cuts (the mergeability theorem, streamed form)
    val exact = ev.selectExpr("event_type", s"$kexpr AS k")
      .groupBy("event_type", "k").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamed.foreach { case (g, k, est) =>
      assert(est <= exact((g, k)), s"overestimate at ($g, $k)")
      assert((exact((g, k)) - est) * (MisraGries.K + 1) <= tot(g),
        s"band violated at ($g, $k)")
    }
  }

  test("kmv ingest: running estimates equal the batch sketch; min-fold absorbs replayed overlap") {
    import graft.streaming.CorpusStreams
    import graft.ops.KmvSketch
    val ev = spark.read.parquet(sf("sf0.001") + "/events.parquet")
      .select("event_id", "event_type", "user_id")
    val dir = Files.createTempDirectory("graft-kmv-stream")
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).select("event_type", "user_id")
        .coalesce(1).write.parquet(dir.resolve(s"in/b$i").toString)
    }
    val schema = ev.select("event_type", "user_id").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString + "/in/*")
    val q = CorpusStreams.kmvIngest(stream, "event_type", "user_id",
      dir.resolve("index").toString, dir.resolve("est").toString,
      dir.resolve("ck").toString, compactEvery = 2)
    q.processAllAvailable(); q.stop()
    val pids = spark.read.parquet(dir.resolve("index").toString)
      .select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(pids == Set(2L, 3L), pids)
    // the batch-3 estimates equal the one-shot sketch over ALL events —
    // the K-min law makes the ingest a pure function of the multiset
    def ests(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "n_kept", "est").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = ests(spark.read.parquet(dir.resolve("est").toString)
      .filter(col("batch_id") === 3))
    val batch = ests(KmvSketch.estimate(
      KmvSketch.sketch(ev, Seq("event_type"), "user_id"), Seq("event_type")))
    assert(streamed == batch && streamed.nonEmpty)
    // idempotence: min-merging an ALREADY-INGESTED batch's sample into
    // the final folded state changes nothing (at-least-once safety — the
    // Bloom/HLL property; sum-fold sketches do not have this)
    val finalSk = spark.read.parquet(dir.resolve("index").toString)
      .select("event_type", "h")
    val overlap = KmvSketch.sketch(
      ev.filter(col("event_id") % 4 === 1), Seq("event_type"), "user_id")
    def skset(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "h").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val folded = skset(KmvSketch.merge(finalSk, Seq("event_type")))
    val replayed = skset(KmvSketch.merge(
      finalSk.unionByName(overlap), Seq("event_type")))
    assert(replayed == folded)
  }

  test("stateful running totals equal batch aggregation after one pass") {
    val evs = EventStreams.fromParquetDir(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[EventStreams.Ev]
    val q = EventStreams.runningUserTotals(evs)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("totals")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // last update per user is the final state
    val streamed = spark.table("totals")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = batchEvents(s"$eventsDir/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }
}

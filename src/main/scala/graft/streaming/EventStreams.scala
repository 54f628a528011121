package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._
import graft.iterate.Fixpoint

/** Structured Streaming surface over the events table. The reference is
  * batch-only (SURVEY §2.9) — its iterative driver loops are fixpoint
  * recomputation, not streams — so this module is a capability extension:
  * the same event analytics as the batch queries (q_events_window /
  * q_events_sessionize), expressed incrementally with watermarked state.
  *
  * Scale design: windowed aggregation state is bounded by the watermark
  * horizon; per-key session state lives in the state store keyed by
  * user_id (hash-partitioned, incremental checkpoints). The parquet file
  * source is the test harness stand-in for Kafka — transforms are
  * source-agnostic.
  */
object EventStreams {

  /** events.parquet schema, parameterized on the physical ts dtype: raw
    * nanosecond longs (TIMESTAMP(NANOS) under nanosAsLong) or a timestamp
    * type (timestamp[us] testdata since Aug 2026) — see
    * [[graft.core.Tables.normalizeEventTs]]. */
  def eventsSchema(tsType: DataType = LongType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events parquet directory. Streaming sources need
    * a declared schema, so the physical ts dtype is sniffed with a batch
    * metadata read at stream definition (footer-only, not a data scan);
    * ts is then normalized to the engine's canonical nanos BIGINT and
    * ts_utc derived, keeping every downstream transform schema-agnostic. */
  def fromParquetDir(spark: SparkSession, dir: String,
      tsTypeOverride: Option[DataType] = None): DataFrame = {
    val tsType: DataType = tsTypeOverride.getOrElse(
      scala.util.Try(spark.read.parquet(dir).schema("ts").dataType) match {
        case scala.util.Success(t) => t
        case scala.util.Failure(e) =>
          // Bootstrap case: the directory exists but has no footers yet (or
          // is unreadable). Defaulting silently would make a later schema
          // mismatch untraceable — if nanos-encoded int64 files arrive
          // after the stream starts, the declared schema is wrong with no
          // hint of the cause. Name the fallback loudly; callers that know
          // the encoding pass tsTypeOverride.
          System.err.println(
            s"[graft] EventStreams.fromParquetDir: could not sniff ts dtype from $dir " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); defaulting to TIMESTAMP_NTZ. " +
              "If nanos-encoded (int64) files arrive later the stream will fail or misread — " +
              "pass tsTypeOverride=Some(LongType) for a nanos bootstrap.")
          TimestampNTZType
      })
    graft.core.Tables.normalizeEventTs(
        spark.readStream.schema(eventsSchema(tsType)).parquet(dir))
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
  }

  /** Hourly tumbling-window counts per event type with a 2-hour watermark —
    * the streaming twin of q_events_window. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("v"))

  /** Gap-based sessionization via the BUILT-IN session_window — the
    * declarative twin of [[sessionize]]'s flatMapGroupsWithState: Spark
    * owns the merge/expiry state machine (watermark-driven), the query is
    * one groupBy. Prefer this form unless the session payload needs
    * custom state (first-touch attribution, per-session reservoirs);
    * StreamingSpec checks it against its own batch execution. */
  def sessionWindows(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    events
      .withWatermark("ts_utc", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts_utc"), s"$gapMs milliseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("t_start"),
        col("sw.end").as("t_end"), col("n_events"))

  /** Streaming exact dedup on event_id with watermark-bounded state — the
    * streaming face of the batch dedup operators: duplicates arriving
    * within the watermark horizon are dropped, state for old keys is
    * reclaimed (unbounded dropDuplicates state is the classic streaming
    * OOM at scale). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_utc", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join (self-join of the event
    * stream): each non-checkpoint event is paired with same-user
    * checkpoint events (event_id % 10 == 0) from its trailing hour.
    * The time-range predicate plus the two watermarks bound both sides'
    * join state — the engine evicts checkpoint rows once the event-side
    * watermark passes their ts + 1 hour. */
  def withRecentCheckpoints(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_id") % 10 =!= 0)
      .select(col("event_id"), col("user_id"), col("ts_utc"))
      .withWatermark("ts_utc", "2 hours")
    val c = events.filter(col("event_id") % 10 === 0)
      .select(col("event_id").as("ckpt_id"), col("user_id").as("c_user"),
        col("ts_utc").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    e.join(c, expr(
        "user_id = c_user AND c_ts >= ts_utc - INTERVAL 1 HOUR AND c_ts <= ts_utc"))
      .select(col("event_id"), col("user_id"), col("ckpt_id"))
  }

  /** Stream-static enrichment: the static dimension is broadcast per
    * micro-batch; no streaming state at all. */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment").as("segment"))

  /** foreachBatch sink with an idempotent anti-join upsert: each
    * micro-batch appends only events whose event_id is not already in the
    * parquet target. An at-least-once source or a restart from a stale
    * checkpoint re-delivers batches — the anti-join makes re-delivery a
    * no-op, giving end-to-end exactly-once without sink transactions (the
    * standard pattern for non-transactional targets at scale; the id probe
    * reads just the target's event_id column, pruned at the scan).
    *
    * The novel rows are materialized (localCheckpoint) BEFORE the append
    * so the write never races its own target scan. */
  def appendDeduped(events: DataFrame, targetDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val fresh = batch.dropDuplicates("event_id")
        // ONLY a genuinely absent target means "first batch" — any other
        // read failure (transient FS error, corrupt footer) must fail the
        // micro-batch so the checkpoint retries it; swallowing it would
        // skip the anti-join and append duplicates, which is exactly the
        // failure mode this sink exists to prevent
        val targetPath = new org.apache.hadoop.fs.Path(targetDir)
        val fs = targetPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
        val novel =
          if (fs.exists(targetPath))
            fresh.join(sp.read.parquet(targetDir).select("event_id"),
              Seq("event_id"), "left_anti")
          else fresh
        Fixpoint.scope {
          Fixpoint.materializedLeaf(novel).write.mode("append").parquet(targetDir)
        }
      }
      .start()

  final case class Ev(event_id: Long, ts: Long, user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  final case class SessionState(start_us: Long, last_us: Long, n: Long)
  final case class Session(user_id: Long, t_start_us: Long, t_end_us: Long, n_events: Long)

  /** Streaming gap-based sessionization — the incremental twin of the
    * oracle-checked batch q_events_sessionize (same 30-minute gap, same µs
    * arithmetic). Sessions close when a later event arrives past the gap
    * (emitted immediately) or when event time advances `gapMs` past the
    * last event (timeout). State per user is one open session — bounded.
    */
  def sessionize(events: Dataset[Ev], gapMs: Long = 1800000L): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ts_utc", "2 hours")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.start_us, s.last_us, s.n))
          } else {
            // events within a micro-batch are not ordered; sort by event time
            val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val tsUs = e.ts / 1000
              // batch parity: gap compares ms-truncated stamps (ts div 1e6)
              open match {
                case Some(s) if tsUs / 1000 - s.last_us / 1000 > gapMs =>
                  closed += Session(uid, s.start_us, s.last_us, s.n)
                  open = Some(SessionState(tsUs, tsUs, 1))
                case Some(s) =>
                  // late (out-of-order) events across micro-batches merge
                  // conservatively: extend the span, never regress it
                  open = Some(SessionState(math.min(s.start_us, tsUs),
                    math.max(s.last_us, tsUs), s.n + 1))
                case None =>
                  open = Some(SessionState(tsUs, tsUs, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_us / 1000 + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Running per-user totals via mapGroupsWithState (Update mode) — custom
    * keyed state beyond what windowed aggregation expresses. */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          evs.foreach { e => n += 1; tot += e.value }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          next
      }
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edge-list I/O matching the reference's file contract (FIXTURES.md F1):
  * headerless CSV, one `follower,followee` pair per line, parsed
  * positionally — ReduceByKey/src/main/scala/wc/FollowersCount.scala:26-27.
  *
  * Schema-on-read replaces the reference's split-and-index (SURVEY P1): the
  * declared schema reaches the CSV reader, malformed lines drop via
  * DROPMALFORMED instead of throwing in a closure (P9 null/arity guard).
  */
object IO {

  /** A temp directory that cleans up after itself: registered for
    * recursive deletion at JVM exit, so repeated bench/verify runs stop
    * accumulating store copies under /tmp (r15 ADVICE). Per-process
    * scratch only — deployment stores pass their own durable paths. */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      scala.util.Try {
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(java.nio.file.Files.delete(p)))
      }
      ()
    }))
    dir.toString
  }

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** S1/S2: CSV edge-list scan with declared schema. */
  def readEdgesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(edgeSchema)
      .option("mode", "DROPMALFORMED")
      .csv(path)
      .na.drop(Seq("src", "dst"))

  /** S9-S11: CSV sink, comma-separated like the reference's
    * TextOutputFormat (ReduceSideJoin/...:173). The reference's RDD text
    * sinks emit `(k,v)` Tuple2.toString lines — we write declared-format
    * CSV instead (SURVEY §7.3 exact-output-parity note). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", ",").csv(path)

  /** JSONL (newline-delimited JSON) — the training-data interchange
    * format. Reads with a DECLARED schema: schema inference would scan the
    * whole corpus once before the real read, which is two passes at 100 TB
    * and a silent type lottery besides. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC source/sink — the other columnar format Spark ships natively;
    * same pushdown/pruning properties as parquet, useful when a downstream
    * consumer is ORC-native (Hive/Trino estates). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Range-clustered parquet write: global range partitioning on
    * `clusterCol` plus an in-partition sort gives every output file a
    * tight, pairwise-disjoint min/max range on that column. Parquet
    * footers record those ranges, so a reader's range predicate skips
    * whole files/row-groups — the data-layout lever for time- or
    * key-range-scanned corpora at 100 TB (the poor man's single-column
    * z-order). `files` sizes the write parallelism AND the file count:
    * range partitioning samples the column to build balanced bounds. */
  def writeRangeClustered(df: DataFrame, path: String, clusterCol: String,
      files: Int): Unit =
    df.repartitionByRange(files, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into ~`targetRows`
    * rows per file. Streaming sinks, fine-grained partitioning, and
    * per-batch appends all breed thousands of KB-sized files whose open/
    * footer overhead dominates scans at 100 TB — the nightly compaction
    * job is how production tables stay scannable. The rewrite goes through
    * a temp dir then swaps, so a failure mid-write never clobbers the
    * readable table. Round-robin repartition (no shuffle key needed) keeps
    * output files uniformly sized. */
  def compact(spark: SparkSession, path: String, targetRows: Long): Unit = {
    recoverSwap(spark, path)
    val df = spark.read.parquet(path)
    val n = df.count()
    val files = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    rewriteSwap(spark, path, df.repartition(files), "__compacting")
  }

  /** Key-based upsert (the MERGE INTO shape) against a parquet table:
    * `updates` rows replace same-key current rows; new keys append.
    * Mirrors MERGE INTO's source contract: duplicate or null keys in
    * `updates` are rejected (duplicates would silently double rows; a
    * null key can never match the anti-join). The anti-join ships only
    * update keys; the rewrite swaps like compact. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      key: String): Unit = {
    require(updates.filter(col(key).isNull).isEmpty,
      s"upsert: null values in update key '$key'")
    require(updates.groupBy(key).count().filter(col("count") > 1).isEmpty,
      s"upsert: duplicate values in update key '$key' (MERGE INTO errors here too)")
    recoverSwap(spark, path)
    val merged = spark.read.parquet(path)
      .join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)
    rewriteSwap(spark, path, merged, "__upserting")
  }

  /** Write `df` to a temp sibling dir, then replace `path` via two checked
    * renames with a backup: path -> __old, tmp -> path, drop __old (rename
    * restores __old if the second step fails). A failed WRITE never touches
    * the readable table; a crash between the renames leaves the data
    * recoverable under __old rather than deleted — and the next call here
    * auto-restores that state (see below). The df must be fully
    * materialized by the tmp write BEFORE the swap (it reads `path`).
    *
    * Concurrency/FS contract: SINGLE WRITER, and a filesystem with
    * atomic directory rename (local FS, HDFS). Readers racing the swap
    * can observe a missing table for the instant between the two renames,
    * and object stores (S3 et al.) emulate rename as copy+delete — on
    * those, compact/upsert need a table format with a transactional
    * commit protocol instead of this directory swap. */
  private def rewriteSwap(spark: SparkSession, path: String, df: DataFrame,
      suffix: String): Unit = {
    val tmp = path.stripSuffix("/") + suffix
    df.write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val bak = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    val fs = p.getFileSystem(conf)
    fs.delete(bak, true)
    if (fs.exists(p) && !fs.rename(p, bak))
      throw new java.io.IOException(s"rewriteSwap: rename $p -> $bak failed")
    if (!fs.rename(t, p)) {
      fs.rename(bak, p) // best-effort restore of the old table
      throw new java.io.IOException(s"rewriteSwap: rename $t -> $p failed")
    }
    fs.delete(bak, true)
  }

  /** Crash recovery for rewriteSwap: a run that died between its two
    * renames leaves `path` absent with the data intact under `__old`.
    * Restore it before reading. Called by compact/upsert before they
    * open the table; a no-op in the healthy state. */
  private def recoverSwap(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) && fs.exists(bak) && !fs.rename(bak, p))
      throw new java.io.IOException(
        s"recoverSwap: crash-recovery rename $bak -> $p failed")
  }

  /** Byte-format parity with the reference's RDD text sinks, which emit
    * `Tuple2.toString` lines like `(42,7)`
    * (ReduceByKey/src/main/scala/wc/FollowersCount.scala:29). Use only
    * when diffing raw output dirs against the original jobs — declared
    * CSV (`writeCsv`) is the format a downstream reader should get. */
  def writeTupleText(df: DataFrame, path: String): Unit = {
    val cols = df.columns.map(c => col(c).cast("string"))
    df.select(concat(lit("("), concat_ws(",", cols: _*), lit(")")).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** The reference's lineage dump (`println(counts.toDebugString)` —
    * ReduceByKey/...:30) as its Catalyst equivalent: the formatted
    * physical plan. One call on any DataFrame, printable by app mains. */
  def debugString(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Parquet table loading for the driver-generated TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md). At cluster scale these reads are plain
  * distributed parquet scans — column pruning and predicate pushdown
  * reach the scan because we never materialize before filtering.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table, read with the schema inferred at its first load. Spark's
    * parquet schema inference runs a job even for one footer, so each path
    * keeps its inferred schema next to the file listing (names, sizes,
    * mtimes) and the parquet read settings it was inferred under; a load
    * that sees the same listing and settings reads with that schema and
    * runs no job, and any change re-infers. A missing table fails with
    * Spark's own error. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) spark.read.parquet(path)
    else {
      val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val it = fs.listFiles(hp, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val stamp: Stamp = (files.sorted.toSeq, spark.conf.getAll.filter(_._1.contains("parquet")))
      val schema = inferred.get(path).collect { case (`stamp`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        inferred.put(path, (stamp, s))
        s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** a table's file listing (path, size, mtime) and the session's parquet
    * settings */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  /** per table path: the stamp a schema was inferred under, and the schema */
  private val inferred = TrieMap.empty[String, (Stamp, StructType)]

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    normalizeDate(load(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    normalizeDate(load(spark, sfDir, "orders"), "o_orderdate")

  /** Date-column twin of [[normalizeEventTs]]. The catalog's contract for
    * o_orderdate / l_shipdate is a timestamp-typed column (string-literal
    * range filters, `date_format`, `datediff`, interval arithmetic all
    * assume it). The driver has already re-encoded `events.ts` once to raw
    * TIMESTAMP(NANOS)-as-BIGINT; if the date columns ever follow, every
    * date filter in the catalog would silently compare a raw long against a
    * date string while the schema canary stayed green (the accepted-type
    * set includes LongType precisely because this choke point lifts it).
    * Lifting here — ns → µs integer division, then `timestamp_micros` —
    * keeps the whole catalog encoding-agnostic, fused into the scan stage.
    */
  def normalizeDate(df: DataFrame, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos (nanosAsLong=true)
        // `div` (integral) — a double-valued `/` would lose precision above
        // 2^53, and ns-epoch values are ~1.8e18.
        df.withColumn(colName, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$colName div 1000")))
      case TimestampType | TimestampNTZType => df // already the contract type
      case other => throw new IllegalStateException(
        s"$colName drifted to unsupported type $other — expected BIGINT (nanos), " +
          "TIMESTAMP, or TIMESTAMP_NTZ; update Tables.normalizeDate")
    }
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  /** The engine's canonical events contract is `ts` as raw nanosecond-epoch
    * BIGINT — every downstream query does integer arithmetic on it
    * (`ts div 1000` → µs, window buckets, session gaps). The driver's
    * testdata has shipped two physical encodings of the same instants:
    *   - TIMESTAMP(NANOS), which the session reads as BIGINT nanos directly
    *     (spark.sql.legacy.parquet.nanosAsLong=true in [[Sessions]]);
    *   - timestamp[us] (TIMESTAMP_NTZ in Spark), since Aug 2026.
    * Normalizing HERE — the one choke point every query loads through —
    * keeps the whole catalog schema-agnostic. The conversion is a codegen'd
    * projection fused into the scan stage (no extra pass); at 100 TB it is
    * free relative to the read itself.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as raw nanos — already canonical
      case t @ (TimestampType | TimestampNTZType) =>
        // Session tz is UTC (Sessions.local), so NTZ→LTZ cast preserves the
        // stored micros value exactly; *1000 lifts µs to the canonical ns.
        val asTs: Column = if (t == TimestampType) col("ts") else col("ts").cast(TimestampType)
        df.withColumn("ts", unix_micros(asTs) * 1000L)
      case other => throw new IllegalStateException(
        s"events.ts drifted to unsupported type $other — expected BIGINT (nanos), " +
          "TIMESTAMP, or TIMESTAMP_NTZ; update Tables.normalizeEventTs")
    }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))

  /** Schema-drift canary: checks each table's loaded schema against the
    * engine's column/type contract and returns one human-readable message
    * per drift (empty = healthy). Verify fails fast on drift instead of
    * letting N queries die with opaque analysis errors; QueriesSpec pins
    * the current testdata green. Accepted types are sets because the
    * driver has regenerated testdata with different physical encodings
    * between rounds (see [[normalizeEventTs]]).
    */
  def schemaDrift(spark: SparkSession, sfDir: String): Seq[String] = {
    import org.apache.spark.sql.types._
    val ts: Set[DataType] = Set(LongType, TimestampType, TimestampNTZType)
    val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
      "region" -> Seq("r_regionkey" -> Set(IntegerType, LongType), "r_name" -> Set(StringType)),
      "nation" -> Seq("n_nationkey" -> Set(IntegerType, LongType), "n_name" -> Set(StringType),
        "n_regionkey" -> Set(IntegerType, LongType)),
      "customer" -> Seq("c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
        "c_nationkey" -> Set(IntegerType, LongType), "c_acctbal" -> Set(DoubleType),
        "c_mktsegment" -> Set(StringType)),
      "supplier" -> Seq("s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
        "s_nationkey" -> Set(IntegerType, LongType), "s_acctbal" -> Set(DoubleType)),
      "part" -> Seq("p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
        "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
        "p_size" -> Set(IntegerType, LongType), "p_retailprice" -> Set(DoubleType)),
      "orders" -> Seq("o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
        "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
        "o_orderdate" -> ts, "o_orderpriority" -> Set(StringType)),
      "lineitem" -> Seq("l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
        "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType, LongType),
        "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
        "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
        "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
        "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> Set(LongType), "ts" -> ts, "user_id" -> Set(LongType),
        "event_type" -> Set(StringType), "value" -> Set(DoubleType), "props" -> Set(StringType)),
      "documents" -> Seq("doc_id" -> Set(LongType), "text" -> Set(StringType),
        "lang" -> Set(StringType), "source" -> Set(StringType), "n_chars" -> Set(LongType)),
      "embeddings" -> Seq("vec_id" -> Set(LongType),
        "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = true),
          ArrayType(DoubleType), ArrayType(DoubleType, containsNull = true)),
        "label" -> Set(IntegerType, LongType)))
    contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      scala.util.Try(load(spark, sfDir, table).schema) match {
        case scala.util.Failure(e) => Seq(s"$table: unreadable (${e.getMessage})")
        case scala.util.Success(schema) =>
          val byName = schema.fields.map(f => f.name -> f.dataType).toMap
          cols.flatMap { case (c, accepted) =>
            byName.get(c) match {
              case None => Some(s"$table.$c drifted: column missing (have: ${schema.fieldNames.mkString(", ")})")
              case Some(dt) if !accepted.contains(dt) =>
                Some(s"$table.$c drifted: $dt not in accepted ${accepted.mkString("{", ", ", "}")}")
              case _ => None
            }
          }
      }
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}

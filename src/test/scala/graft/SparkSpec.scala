package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  // deliberately NOT .withExtensions(GraftExtensions): RuleSpec contrasts
  // plans with/without the optimizer rule, which needs a rule-free base
  // session; operators that need their strategy (TopKPerKey) self-register
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the engine's codegen cache size: at Spark's default, one fixpoint run's
    // classes can overflow an LRU segment and recompile on every rerun
    .config("spark.sql.codegen.cache.maxEntries", graft.core.Sessions.CodegenCacheEntries.toString)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  def sf(dir: String): String = s"/root/testdata/$dir"
}

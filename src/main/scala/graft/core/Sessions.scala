package graft.core

import org.apache.spark.sql.SparkSession

/** Single place the engine's session configuration lives — Verify, Bench,
  * the tools and the app mains all build the same session ([[local]]:
  * extensions installed, UTC, nanos-as-long for the TIMESTAMP(NANOS) events
  * table, UI off), and the test suites the same conf without extensions.
  */
object Sessions {
  /** codegen LRU size (Spark's default 100) above one pass's classes: ~170 graph, ~340 corpus at sf0.01 */
  val CodegenCacheEntries = 1024

  /** Jobs, stages and SQL executions the status store keeps (Spark's
    * defaults: 1000 each, an execution with its plan string). The UI is
    * off, and nothing in the engine reads that history; the cached-RDD
    * storage info the leak meters read is kept whatever these say. */
  val RetainedUiHistory = 50

  /** finished tasks the status store keeps per stage (Spark's default: 100000) */
  val RetainedTasks = 1000

  /** The engine's session conf on `cpus` local cores, with no extensions:
    * UTC, nanos-as-long, UI off with its history trimmed, the codegen cache
    * sized. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", RetainedUiHistory.toString)
      .config("spark.ui.retainedStages", RetainedUiHistory.toString)
      .config("spark.ui.retainedTasks", RetainedTasks.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedUiHistory.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** [[builder]]'s session with [[graft.functions.GraftExtensions]] installed */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(cpus).withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

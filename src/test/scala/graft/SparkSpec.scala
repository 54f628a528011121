package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  // deliberately NOT Sessions.local (which adds GraftExtensions): RuleSpec
  // contrasts plans with/without the optimizer rule, which needs a rule-free
  // base session; operators that need their strategy (TopKPerKey)
  // self-register
  lazy val spark: SparkSession = graft.core.Sessions.builder("4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Run `body` and require that it leaves no new persisted RDD and no new
    * cache-manager entry. Asserted as "no new key": the context holds its
    * persisted RDDs weakly, so an older entry may vanish meanwhile. */
  def leavesNothing(name: String)(body: => Unit): Unit = {
    import org.apache.spark.sql.GraftBridge.cachedEntries
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val entries = cachedEntries(spark)
    body
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$name left persisted RDDs $leaked")
    val added = cachedEntries(spark) - entries
    assert(added <= 0, s"$name left $added cache-manager entries")
  }

  /** ids of the RDDs holding cached blocks, read once the listener bus has
    * delivered every block update (the storage info reads the status store
    * it feeds) */
  private def cachedRdds(): Set[Int] = {
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  }

  /** Run `call` and require that it leaves exactly one more RDD with cached
    * blocks than before, and that this RDD is in its result's lineage — a
    * materialization the call superseded but never released fails this. */
  def leavesOnlyResult(name: String)(call: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val before = cachedRdds()
    val out = call
    val added = cachedRdds() -- before
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    out.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd)
      case _ =>
    }
    assert(added.size == 1, s"$name left ${added.size} RDDs with cached blocks: $added")
    assert(added.subsetOf(seen), s"$name's cached RDD $added is not behind its result")
    out
  }
}

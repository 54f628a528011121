package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Schema-drift canary: one named failure beats N opaque analysis errors
    // (round 7 lost 19 queries to a silent events.ts re-encode).
    val drift = graft.core.Tables.schemaDrift(spark, sfDir)
    if (drift.nonEmpty) {
      drift.foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
      sys.error(s"testdata schema drift (${drift.size} contract violations) — see [verify] SCHEMA DRIFT lines")
    }
    // Dev loop: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b dumps a subset (the oracle
    // checker reports the rest as MISSING — grep the names you changed).
    // The driver runs without the filter and always gets the full catalog.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.keys.filter(names.contains)
      case None        => SparkEntry.queries.keys
    }
    selected.foreach { name =>
      try SparkEntry.run(name, spark, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a JSON string: backslash, quote and ALL control chars (< 0x20)
    * escaped, since a tab or CR in a query's SQL or a Spark error message
    * would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

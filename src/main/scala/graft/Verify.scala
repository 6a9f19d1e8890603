package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name subset] — the
    // subset form mirrors prevalidate.py's ONLY filter for fast local
    // iteration on a single gate query; the driver always passes two.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.get()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      // release any persist() the query created (near-dup pipelines cache
      // their shingle sets): 49 queries in one session would otherwise
      // accumulate executor storage across the whole run
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the full declared-query list, so validators can tell a rows-only
    // query (declared, no oracle) from one that crashed and wrote
    // nothing — absence from disk alone cannot distinguish the two
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"),
      SparkEntry.queries.keys.toSeq.sorted
        .map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in the oracle SQL would otherwise make
    * json.load of oracle_sql.json fail and silently empty the
    * correctness check.
    */
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

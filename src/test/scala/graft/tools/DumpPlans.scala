package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Diagnostic: write `.explain("formatted")` of every (or a subset of)
  * SparkEntry query to plans/<tag>/<name>_<suffix>.txt — the committed
  * plan evidence for optimization rounds. Run:
  *   sbt 'Test/runMain graft.tools.DumpPlans r14 before [q108_bm25,...]'
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r14")
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.get()
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sf)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(dir.resolve(s"${name}_$suffix.txt"),
            plan.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.WRITE,
            StandardOpenOption.TRUNCATE_EXISTING)
          val nExch = "Exchange".r.findAllIn(plan).size
          println(f"$name%-32s exchanges=$nExch%3d chars=${plan.length}")
        } catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}

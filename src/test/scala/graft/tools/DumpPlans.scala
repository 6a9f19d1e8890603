package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.filters.FilterRegistry
import org.apache.spark.sql.graftbridge.ExpressionTree

/** Diagnostic plan dumps. Two modes:
  *
  *  - `<tag> [suffix] [queries]`: `.explain("formatted")` of every (or a
  *    subset of) SparkEntry query to plans/<tag>/<name>_<suffix>.txt — the
  *    committed plan evidence for optimization rounds;
  *  - `filters [alertsDir]`: for every catalog filter, its unresolved mask
  *    expression and, when a directory of alert parquet is given, the
  *    optimized plan of `FilterRegistry.applyFilter` over it (or the error
  *    it fails with), to plans/filters/<filter>.txt.
  *
  * Both modes write normalised text: expression ids, plan ids, RDD ids,
  * lambda variable numbers, identity hashes and the `File.scala:line` of
  * a checkpoint's call site, so two builds that make the same masks and plans write the
  * same bytes, and a refactor is checked with `diff -r` of two dumps
  * (the same suffix on both sides, one tag each).
  *
  * Run:
  * {{{
  *   sbt 'Test/runMain graft.tools.DumpPlans r14 before [q108_bm25,...]'
  *   sbt 'Test/runMain graft.tools.DumpPlans filters [alertsDir]'
  * }}}
  * The cross-match filters read their catalogs from `FINK_FILTERS_DATA`.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("filters")) dumpFilters(args.lift(1))
    else dumpQueries(args)
  }

  private def write(file: Path, text: String): Unit =
    Files.write(file, text.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)

  /** Per-JVM counters (expression, plan and RDD ids, lambda variables),
    * identity hashes (an array literal prints as `[J@1b2c3d4e`) and the
    * source line an RDD was created at.
    */
  private def normalise(s: String): String =
    s.replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("(?<=[\\w;])@[0-9a-f]{1,8}\\b", "@N")
      .replaceAll("\\b(\\w+\\.scala):\\d+\\b", "$1:L")
      .replaceAll("\\b(x|y|z|acc|left|right|key|value)_\\d+\\b", "$1_N")

  private def dumpFilters(alertsDir: Option[String]): Unit = {
    val spark = graft.Sessions.get()
    val dir = Paths.get("plans/filters")
    Files.createDirectories(dir)
    val alerts = alertsDir.map(spark.read.parquet(_))
    val input = alerts.getOrElse(spark.emptyDataFrame)
    def orError(text: => String): String =
      try text
      catch { case e: Exception =>
        s"FAILED: ${e.getClass.getName}: ${e.getMessage}" }
    FilterRegistry.all.toSeq.sortBy(_._1).foreach { case (name, f) =>
      // the Catalyst tree, not `Column.toString`: that prints the
      // engine's own expressions as `columnnodeexpression()` without
      // their children
      val mask = orError(ExpressionTree.of(f.mask(input)).toString)
      val plan = alerts.fold("") { df =>
        val text = orError(FilterRegistry.applyFilter(df, name)
          .queryExecution.optimizedPlan.toString)
        s"\n-- optimized plan of applyFilter\n$text"
      }
      write(dir.resolve(s"$name.txt"), normalise(s"-- mask\n$mask\n$plan"))
      println(f"$name%-48s mask=${mask.length}%6d plan=${plan.length}%7d")
    }
    spark.stop()
  }

  private def dumpQueries(args: Array[String]): Unit = {
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
          write(dir.resolve(s"${name}_$suffix.txt"), normalise(plan))
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

package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession definition shared by `Bench`, `Verify`, the
  * test suite and the tools, so their settings cannot drift apart.
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`, where
  *    cpus is `SPARK_GRAFT_CPUS` or else every available core;
  *  - UTC session time zone; parquet TIMESTAMP(NANOS) read as long (the
  *    testdata's `events.ts`, normalized by `CoreQueries.events`)
  *    and timestamps never inferred as NTZ;
  *  - a codegen cache sized for the whole 142-query suite: the default
  *    100 entries thrash across a suite (each gate compiles several
  *    WholeStageCodegen spans, so rep k+1 finds its classes evicted and
  *    pays full Janino recompilation — measured on the 31-gate retrieval
  *    subset, 84.0 s -> 43.9 s), and a long-lived session running a
  *    query mix wants the same;
  *  - no UI, a per-JVM temp warehouse (`saveAsTable` targets stay out of
  *    the checkout), log level WARN.
  */
object Sessions {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session (created on first call, shared by every later one). */
  def get(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-JVM temp warehouse, removed on JVM exit (DROP TABLE removes
    * table data, not the directory; aborted runs would otherwise
    * accumulate bucketed copies of the inputs under /tmp).
    */
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit))
    dir.toString
  }
}

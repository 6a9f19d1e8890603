package graft.streaming

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.filters.FilterRegistry

/** Structured Streaming wrapper — SURVEY §7 M7.
  *
  * The reference's execution contract is stateless per micro-batch
  * (history rides in-row, SURVEY §1.1), so the SAME `AlertFilter` masks
  * serve batch and stream unchanged: `readStream` → `applyFilter` →
  * `foreachBatch` sink. No watermarks, no state store (deliberately —
  * SURVEY §7.4.7).
  *
  * Side effects (Telegram/Slack in the reference,
  * `filter_early_sn_candidates/filter.py:182-211`) live exclusively
  * behind [[Notifier]]; the engine core stays pure.
  */
object StreamPipeline {

  /** Where passing alerts go. Implementations must be serializable
    * driver-side objects (foreachBatch runs on the driver; the DataFrame
    * it hands over is distributed).
    *
    * Concurrency contract: [[run]] calls `notify` exactly once per
    * (micro-batch, filter), but the calls for different filters of the
    * SAME micro-batch may overlap, each on its own driver thread, so an
    * implementation must be safe to call concurrently (distinct filters
    * write distinct topics). Micro-batches stay sequential: no call of
    * batch n+1 starts before every call of batch n has returned.
    */
  trait Notifier extends Serializable {
    /** Called once per (micro-batch, filter) with the PASSING alerts. */
    def notify(filterName: String, batchId: Long, passing: DataFrame): Unit
  }

  /** Collects pass-counts in memory — the test/no-op notifier. */
  class CountingNotifier extends Notifier {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
      counts.merge(filterName, passing.count(), (a, b) => a + b)
  }

  /** The topic a filter's alerts go to: its name in directory-safe
    * form (dots → dashes). [[run]] rejects filter lists in which two
    * names map to one topic.
    */
  def topicOf(filterName: String): String = filterName.replace('.', '-')

  /** Durable fan-out: passing alerts append to
    * `basePath/topic=<topicOf(filter)>/` — the file-based analog of the
    * broker's per-science-topic Kafka fan-out (a Kafka notifier swaps
    * in by writing the same DataFrame to a topic; downstream consumers
    * read their topic directory with partition pruning on `topic=`).
    */
  class ParquetTopicNotifier(basePath: String,
      selectColumns: Seq[String] = Seq.empty) extends Notifier {
    def notify(filterName: String, batchId: Long, passing: DataFrame): Unit = {
      val topic = topicOf(filterName)
      val out =
        if (selectColumns.nonEmpty) passing.selectExpr(selectColumns: _*)
        else passing
      out.write.mode("append").parquet(s"$basePath/topic=$topic")
    }
  }

  /** Parquet-directory alert stream (the broker replays alert batches as
    * files; Kafka swaps in via `format("kafka")` + avro deserialization
    * without touching anything downstream).
    */
  def readParquetStream(
      spark: SparkSession, path: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Run `filterNames` over every micro-batch, fanning passing alerts to
    * the notifier — the engine analog of the broker's
    * distribution loop. Returns the started query (AvailableNow by
    * default: drain what exists, then stop — tests and nightly replays;
    * pass `Trigger.ProcessingTime(..)` for a live stream).
    *
    * Each micro-batch is persisted once and its (batch, filter) notify
    * calls run side by side on a pool made for that batch, at most
    * `2 × defaultParallelism` threads (a topic write is one small job,
    * so the scheduler needs more of them in flight than it has cores to
    * stay busy). The batch waits for every call, unpersists, and then
    * fails with the first failure, the others attached as suppressed.
    *
    * Repeated `run` calls in one JVM (replays, restarts) reuse the
    * classes that earlier queries compiled. Each query runs on a clone
    * of `stream`'s session, and with artifact isolation on (Spark's
    * default) the clone gets its own executor class loader, which misses
    * the codegen cache (keyed by class loader and code), so every query
    * would recompile every task-side class. `run` therefore starts the
    * query with `spark.sql.artifact.isolation.enabled` off; the caller's
    * session is left as it was. The one condition: the query's tasks
    * see the jars and files of the `SparkContext`, not artifacts added
    * to a session (Spark Connect); the engine adds none.
    *
    * The query's local files are written without starting processes.
    * Without libhadoop, Hadoop's local file system runs `chmod` for
    * every file and directory it creates (eight per topic append) and
    * `readlink` for the link checks of every checkpoint-log rename. The
    * clone therefore also gets `fs.file.impl`,
    * `fs.file.impl.disable.cache=true` and
    * `fs.AbstractFileSystem.file.impl` naming [[LocalFiles]], which does
    * both through `java.nio.file`, so every topic append made in a
    * notify call and the query's offset, commit and metadata logs go
    * through it. Two limits: the file source's own log under the
    * checkpoint's `sources/` follows the session that read the stream,
    * and writes made outside a `run` query keep the session's own
    * `file:` file system.
    */
  def run(
      stream: DataFrame,
      filterNames: Seq[String],
      notifier: Notifier,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointDir: Option[String] = None): StreamingQuery = {
    // pre-flight: every requested filter must bind against this
    // stream's schema (the §3.1 name-binding step, checked BEFORE the
    // query starts — a misconfigured filter list fails here with the
    // missing columns named, not per micro-batch). Names must be
    // distinct and map to distinct topics: the calls of one batch run
    // concurrently, and two appends into one topic directory would
    // share its commit area.
    require(filterNames.nonEmpty,
      "no filters to run: filterNames is empty, so every micro-batch " +
        "would be read and cached with nothing to notify")
    filterNames.groupBy(topicOf).values.find(_.size > 1).foreach { same =>
      throw new IllegalArgumentException(
        s"filters ${same.mkString("'", "', '", "'")} all write topic " +
          s"'${topicOf(same.head)}'; list each filter once, under names " +
          "that stay distinct when dots become dashes")
    }
    filterNames.foreach(graft.schema.AlertSchemas.validate(stream, _))
    val threads = math.max(1, math.min(
      2 * stream.sparkSession.sparkContext.defaultParallelism,
      filterNames.size))
    var w = stream.writeStream.trigger(trigger)
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w = w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // one pass per filter over the SAME cached micro-batch: scan once
      val cached = batch.persist()
      try fanOut(s"graft-fanout-$batchId", threads, filterNames.map { name =>
        () => notifier.notify(name, batchId,
          FilterRegistry.applyFilter(cached, name))
      }) finally { cached.unpersist(); () }
    }
    startShared(stream.sparkSession, w)
  }

  /** The session keys each query's clone gets (see [[run]]): artifact
    * isolation off, and `file:` paths through [[LocalFiles]].
    */
  private[streaming] val CloneConf: Seq[(String, String)] =
    ("spark.sql.artifact.isolation.enabled" -> "false") +: LocalFiles.Conf
  private val startLock = new Object

  /** Starts `w` with [[CloneConf]] set for the query's session clone
    * only. `start()` clones the caller's session synchronously, so the
    * clone copies the values set here; the caller's own values (or
    * their absence) are restored afterwards. The lock keeps concurrent
    * starts from restoring over each other.
    */
  private def startShared(spark: SparkSession,
      w: DataStreamWriter[Row]): StreamingQuery = startLock.synchronized {
    val callers = spark.conf.getAll
    val before = CloneConf.map { case (k, _) => k -> callers.get(k) }
    CloneConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try w.start()
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `calls` on a pool of `threads` daemon threads named
    * `<name>-<n>` and waits for all of them; then rethrows the first
    * failure (in call order) with the other failures suppressed on it.
    *
    * The pool is created here, on the calling thread, so its threads
    * inherit that thread's Spark local properties (each gets a clone):
    * the streaming query's job group, so `StreamingQuery.stop()` still
    * cancels their jobs, the SQL execution id and the active session.
    * If the caller is interrupted (a stopping query) the calls still
    * running are interrupted, and the pool's threads have ended before
    * this returns.
    */
  private def fanOut(name: String, threads: Int,
      calls: Seq[() => Unit]): Unit = {
    val made = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(threads,
      { (r: Runnable) =>
        val t = new Thread(r, s"$name-${made.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    try {
      val futures = calls.map(c => pool.submit((() => c()): Runnable))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.SECONDS)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}

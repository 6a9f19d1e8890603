package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.ProcessStarts
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.filters.FilterRegistry

/** The stream fan-out on synthetic alerts, no fixture needed: a few
  * small parquet files of generated rows, a dozen SQL-registered
  * filters, `StreamPipeline.run` with `ParquetTopicNotifier`. Every
  * expected figure is computed here from the generated values.
  */
class StreamFanOutSpec extends SparkSpec {
  import StreamFanOutSpec._

  private def register(): Seq[String] = Predicates.map { case (name, sql, _) =>
    FilterRegistry.registerSql(name, sql).name }

  private def stream(dir: String) = StreamPipeline.readParquetStream(
    spark, dir, spark.read.parquet(dir).schema)

  /** Writes `NumFiles` parquet files of `PerFile` alerts to a fresh dir. */
  private def writeInput(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-fanout-$tag").resolve("in")
    alerts.grouped(PerFile).foreach { part =>
      part.toDS().coalesce(1).write.mode("append").parquet(dir.toString)
    }
    dir.toString
  }

  /** Names of fan-out pool threads still alive after a short grace
    * for threads that are past their last task but not yet gone.
    */
  private def poolThreadsAlive(): Set[String] = {
    val pool = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-fanout-")).toSet
    val deadline = System.currentTimeMillis() + 10000
    pool.foreach(_.join(math.max(1L, deadline - System.currentTimeMillis())))
    pool.filter(_.isAlive).map(_.getName)
  }

  /** Holds each call until a second call is in flight at the same time
    * (`overlapped` opens then). The wait has a timeout and happens at
    * most until it first runs out: a sequential fan-out waits once, is
    * recorded in `timedOut`, and goes on.
    */
  private class OverlapNotifier(inner: StreamPipeline.Notifier)
      extends StreamPipeline.Notifier {
    val overlapped = new CountDownLatch(1)
    val inFlight = new AtomicInteger()
    @volatile var timedOut = false
    val calls = new ConcurrentHashMap[(Long, String), Integer]()
    val jobGroups = ConcurrentHashMap.newKeySet[String]()

    def notify(filterName: String, batchId: Long, passing: DataFrame): Unit = {
      calls.merge((batchId, filterName), 1, (a, b) => a + b)
      Option(passing.sparkSession.sparkContext
        .getLocalProperty("spark.jobGroup.id")).foreach(jobGroups.add)
      if (inFlight.incrementAndGet() >= 2) overlapped.countDown()
      try {
        if (!timedOut && !overlapped.await(30, TimeUnit.SECONDS))
          timedOut = true
        inner.notify(filterName, batchId, passing)
      } finally { inFlight.decrementAndGet(); () }
    }
  }

  test("hermetic fan-out: exact per-topic rows, calls of a batch overlap") {
    val names = register()
    val input = writeInput("topics")
    val base = Files.createTempDirectory("graft-fanout-out").toString
    val notifier = new OverlapNotifier(new StreamPipeline.ParquetTopicNotifier(
      base, selectColumns = Seq("candid")))
    val q = StreamPipeline.run(stream(input), names, notifier,
      checkpointDir = Some(Files.createTempDirectory("graft-ckpt").toString))
    q.awaitTermination(240000)
    assert(q.exception.isEmpty, q.exception)

    val batches = NumFiles
    assert(q.recentProgress.count(_.numInputRows > 0) === batches)
    // exactly once per (batch, filter)
    assert(notifier.calls.size === batches * names.size)
    assert(notifier.calls.values.asScala.forall(_ == 1))
    // two calls were in flight at once, and none waited out the latch
    assert(notifier.overlapped.getCount === 0L)
    assert(!notifier.timedOut)
    // the pool threads carried the stream thread's job group
    assert(notifier.jobGroups.asScala.toSet === Set(q.runId.toString))
    assertTopics(base)
  }

  /** Each predicate's topic under `base` holds exactly its candids. */
  private def assertTopics(base: String): Unit =
    Predicates.foreach { case (name, _, keep) =>
      val expected = alerts.filter(keep).map(_.candid).sorted
      assert(expected.nonEmpty && expected.length < alerts.length, name)
      val got = spark.read.parquet(s"$base/topic=${name.replace('.', '-')}")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got.length === expected.length, name)
      assert(got === expected, name)
    }

  test("a drain starts no process for its topic files or checkpoint logs") {
    val names = register()
    val input = writeInput("processes")
    val base = Files.createTempDirectory("graft-fanout-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val (q, started) = ProcessStarts {
      val q = StreamPipeline.run(stream(input), names,
        new StreamPipeline.ParquetTopicNotifier(base, Seq("candid")),
        checkpointDir = Some(ckpt))
      q.awaitTermination(240000)
      q
    }
    assert(q.exception.isEmpty, q.exception)
    assert(q.recentProgress.count(_.numInputRows > 0) === NumFiles)
    assertTopics(base)
    // without libhadoop, Hadoop's own local file system starts chmod
    // and readlink for these paths, about ten per (batch, filter)
    val logs = Seq("offsets", "commits", "metadata").map(d => s"$ckpt/$d")
    val named = started.filter(c => c.contains(base) || logs.exists(c.contains))
    assert(named.isEmpty, s"${named.size} of ${started.size}: ${named.take(5)}")
  }

  test("a restart from the checkpoint runs only the uncommitted batch") {
    val names = register()
    val source = stream(writeInput("restart"))
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    /** One drain on `ckpt`: the (batch, filter) calls it made. */
    def drain(): Set[(Long, String)] = {
      val calls = ConcurrentHashMap.newKeySet[(Long, String)]()
      val q = StreamPipeline.run(source, names, new StreamPipeline.Notifier {
        def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
          { calls.add((batchId, filterName)); () }
      }, checkpointDir = Some(ckpt))
      q.awaitTermination(240000)
      assert(q.exception.isEmpty, q.exception)
      calls.asScala.toSet
    }
    val last = NumFiles - 1L
    assert(drain() === (0L to last).flatMap(b => names.map(b -> _)).toSet)
    // the logs, written through graft's file system, read back: a crash
    // before the last commit replays that batch alone, then nothing
    val commit = Path.of(ckpt, "commits", last.toString)
    Files.delete(commit)
    Files.deleteIfExists(commit.resolveSibling(s".$last.crc"))
    assert(drain() === names.map(last -> _).toSet)
    assert(Files.isRegularFile(commit))
    assert(drain() === Set.empty)
  }

  test("repeated runs reuse compiled classes and leave the session conf as it was") {
    // a value of the caller's for every key that the query's clone gets
    val callerValues = Map(
      "spark.sql.artifact.isolation.enabled" -> Some("true"),
      "fs.file.impl" -> Some(classOf[org.apache.hadoop.fs.LocalFileSystem].getName),
      "fs.file.impl.disable.cache" -> Some("false"),
      "fs.AbstractFileSystem.file.impl" ->
        Some(classOf[org.apache.hadoop.fs.local.LocalFs].getName))
    val keys = StreamPipeline.CloneConf.map(_._1)
    assert(keys.toSet === callerValues.keySet)
    def callerConf(): Map[String, Option[String]] = {
      val all = spark.conf.getAll
      keys.map(k => k -> all.get(k)).toMap
    }
    def setCaller(values: Map[String, Option[String]]): Unit = values.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val unset = keys.map(_ -> None).toMap
    val names = register()
    val source = stream(writeInput("reuse"))
    /** One drain from a fresh checkpoint into a fresh topic base; checks
      * its topics and returns how many classes it compiled. */
    def drain(): Long = {
      val base = Files.createTempDirectory("graft-fanout-reuse").toString
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = StreamPipeline.run(source, names,
        new StreamPipeline.ParquetTopicNotifier(base, Seq("candid")),
        checkpointDir = Some(Files.createTempDirectory("graft-ckpt").toString))
      q.awaitTermination(240000)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(q.exception.isEmpty, q.exception)
      assertTopics(base)
      compiled
    }
    val saved = callerConf()
    try {
      setCaller(unset)
      drain()
      assert(callerConf() === unset)
      setCaller(callerValues)
      assert(drain() === 0L)
      assert(callerConf() === callerValues)
      setCaller(unset)
      assert(drain() === 0L)
      assert(callerConf() === unset)
    } finally setCaller(saved)
  }

  /** `run` must refuse `names` before any query starts, throwing an `E`
    * whose message contains each of `cause`. The `sql.*` names among
    * them are registered first; the others are catalog or unknown names.
    */
  private def assertRejectedBeforeStart[E <: Exception: ClassTag](
      names: Seq[String], cause: Seq[String]): Unit = {
    names.distinct.filter(_.startsWith("sql."))
      .foreach(FilterRegistry.registerSql(_, "rb > 0.5"))
    val notifier = new StreamPipeline.CountingNotifier
    val activeBefore = spark.streams.active.map(_.id).toSet
    val e = intercept[E](
      StreamPipeline.run(stream(writeInput("collide")), names, notifier,
        checkpointDir = Some(Files.createTempDirectory("graft-ckpt").toString)))
    cause.foreach(c => assert(e.getMessage.contains(c), e))
    assert(spark.streams.active.map(_.id).toSet === activeBefore)
    assert(notifier.counts.isEmpty)
  }

  test("filter names that map to one topic are rejected before start") {
    assert(StreamPipeline.topicOf("sql.fanout.x.y") ===
      StreamPipeline.topicOf("sql.fanout.x-y"))
    assertRejectedBeforeStart[IllegalArgumentException](
      Seq("sql.fanout.other", "sql.fanout.x.y", "sql.fanout.x-y"),
      cause = Seq("'sql.fanout.x.y'", "'sql.fanout.x-y'"))
  }

  test("a filter listed twice is rejected before start") {
    assertRejectedBeforeStart[IllegalArgumentException](
      Seq("sql.fanout.x.y", "sql.fanout.other", "sql.fanout.x.y"),
      cause = Seq("'sql.fanout.x.y'"))
  }

  test("an empty filter list is rejected before start") {
    assertRejectedBeforeStart[IllegalArgumentException](Seq.empty,
      cause = Seq("filterNames is empty"))
  }

  test("a catalog filter that does not bind to the stream is rejected before start") {
    // the synthetic rows are flat: rb and nbad are not under `candidate`
    assertRejectedBeforeStart[IllegalArgumentException](
      Seq("sql.fanout.other", "ztf.quality_cuts"),
      cause = Seq("'ztf.quality_cuts' cannot bind",
        "candidate.rb, candidate.nbad"))
  }

  test("an unknown filter name is rejected before start") {
    assertRejectedBeforeStart[NoSuchElementException](
      Seq("sql.fanout.other", "ztf.no_such_filter"),
      cause = Seq("unknown filter 'ztf.no_such_filter'"))
  }

  test("a failing filter fails the batch after every other call completes") {
    val names = register()
    val failing = names(names.length / 2)
    val boom = new IllegalStateException(s"notify failed for $failing")
    val completed = ConcurrentHashMap.newKeySet[(Long, String)]()
    val notifier = new StreamPipeline.Notifier {
      def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
        if (filterName == failing) throw boom
        else { passing.count(); completed.add((batchId, filterName)); () }
    }
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet.toSet
    val storedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    val q = StreamPipeline.run(stream(writeInput("fail")), names, notifier,
      checkpointDir = Some(Files.createTempDirectory("graft-ckpt").toString))

    val e = intercept[StreamingQueryException](q.awaitTermination(240000))
    assert(Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(_ eq boom), e)
    // the first micro-batch failed, and only after the others finished
    assert(completed.asScala.toSet ===
      names.filterNot(_ == failing).map(0L -> _).toSet)
    // the batch's cache went with it
    assert((sc.getPersistentRDDs.keySet.toSet -- persistedBefore).isEmpty)
    assert((sc.getRDDStorageInfo.map(_.id).toSet -- storedBefore).isEmpty)
    // and so did the pool
    assert(poolThreadsAlive().isEmpty, poolThreadsAlive())
  }

  test("stop() interrupts the calls in flight and ends the pool") {
    val names = register()
    val started = new CountDownLatch(1)
    val interrupted = new AtomicInteger()
    val notifier = new StreamPipeline.Notifier {
      def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
        try { started.countDown(); Thread.sleep(600000) }
        catch { case _: InterruptedException => interrupted.incrementAndGet(); () }
    }
    val q = StreamPipeline.run(stream(writeInput("stop")), names, notifier,
      Trigger.ProcessingTime(0L),
      Some(Files.createTempDirectory("graft-ckpt").toString))
    assert(started.await(120, TimeUnit.SECONDS))
    val t0 = System.nanoTime()
    q.stop()
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
    assert(!q.isActive)
    assert(interrupted.get > 0)
    assert(poolThreadsAlive().isEmpty, poolThreadsAlive())
  }
}

object StreamFanOutSpec {
  final case class Alert(objectId: String, candid: Long, magpsf: Double,
      sigmapsf: Double, ndethist: Int, rb: Double, fid: Int,
      ra: Double, dec: Double)

  val NumFiles = 3
  val PerFile = 80

  /** Deterministic synthetic alerts (a fixed LCG, no engine involved). */
  val alerts: Seq[Alert] = {
    var s = 12345L
    def next(): Double = {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      ((s >>> 11) & ((1L << 53) - 1)).toDouble / (1L << 53)
    }
    (0 until NumFiles * PerFile).map { i =>
      Alert(f"ZTF${i % 37}%04d", 1000000L + i,
        magpsf = 14.0 + 7.0 * next(), sigmapsf = 0.01 + 0.2 * next(),
        ndethist = (next() * 20).toInt, rb = next(), fid = 1 + i % 2,
        ra = 360.0 * next(), dec = -30.0 + 120.0 * next())
    }
  }

  /** (filter name, SQL predicate, the same predicate in Scala). */
  val Predicates: Seq[(String, String, Alert => Boolean)] = Seq(
    ("sql.fanout.bright", "magpsf < 17.5", _.magpsf < 17.5),
    ("sql.fanout.faint", "magpsf >= 19.0", _.magpsf >= 19.0),
    ("sql.fanout.real", "rb > 0.55", _.rb > 0.55),
    ("sql.fanout.precise", "sigmapsf < 0.08", _.sigmapsf < 0.08),
    ("sql.fanout.new", "ndethist <= 3", _.ndethist <= 3),
    ("sql.fanout.g_band", "fid = 1", _.fid == 1),
    ("sql.fanout.r_band_real", "fid = 2 AND rb > 0.5",
      r => r.fid == 2 && r.rb > 0.5),
    ("sql.fanout.north", "dec > 45.0", _.dec > 45.0),
    ("sql.fanout.east", "ra BETWEEN 90.0 AND 180.0",
      r => r.ra >= 90.0 && r.ra <= 180.0),
    ("sql.fanout.bright_or_new", "magpsf < 16.0 OR ndethist = 0",
      r => r.magpsf < 16.0 || r.ndethist == 0),
    ("sql.fanout.object_7", "objectId = 'ZTF0007'", _.objectId == "ZTF0007"),
    ("sql.fanout.even_candid", "candid % 2 = 0", _.candid % 2 == 0))
}

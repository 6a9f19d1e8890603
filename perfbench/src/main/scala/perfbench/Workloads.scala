package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, floor}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.classify.Classify
import graft.filters.FilterRegistry
import graft.filters.ztf.EarlyKnFilter
import graft.pipeline.AnomalyPipeline
import graft.schema.AlertSchemas
import graft.streaming.StreamPipeline

/** A failed operation: which one, the exception class and its message. */
final case class Failure(op: String, cls: String, message: String)

/** What one measured phase produced: operation counts, failures,
  * delivery-latency samples and per-layer readings.
  */
final class Phase {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[Failure]
  val delivery = mutable.ArrayBuffer.empty[Double]
  var alerts = 0L
  var wallS = 0.0
  /** Peak resident set during the phase, MB. */
  var peakRssMb = 0.0
  /** Units of work: micro-batches (live_fanout) or passes (night_science). */
  var units = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def fail(op: String, e: Throwable): Unit = synchronized {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    failures += Failure(op, root.getClass.getName,
      Option(root.getMessage).getOrElse("").linesIterator.take(3).mkString(" "))
  }

  def mismatch(op: String, got: Any, expected: Any): Unit = synchronized {
    failures += Failure(op, "ExpectationMismatch", s"got $got, expected $expected")
  }
}

trait Workload {
  /** Generates the inputs (not part of set-up time). */
  def prepare(): Unit
  /** One set-up repetition: registry load, schema capture and binding
    * of every filter. Returns the binding time in ms.
    */
  def setupRep(): Double
  /** Runs the workload once on a small input, so that planning, code
    * generation and caches are warm before measuring.
    */
  def warmUp(): Unit
  /** Runs the workload for about `seconds`, then checks its outputs. */
  def run(seconds: Double, tracer: Tracer, phase: Phase, parent: Long, tag: String): Unit
}

object Workload {
  def ms(ns: Long): Double = ns / 1e6

  def withSpan[T](spark: SparkSession, id: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try body finally sc.setLocalProperty(Tracer.SpanProperty, prev)
  }
}

/** One (micro-batch, filter) notify call as the benchmark saw it. */
final case class NotifyCall(batchId: Long, filter: String, durNs: Long,
    endWallMs: Long, error: Option[Throwable])

/** Wraps the program's notifier: times every (micro-batch, filter) call,
  * records a throwing call as a failure and lets the stream go on.
  */
final class RecordingNotifier(inner: StreamPipeline.Notifier, tracer: Tracer,
    parent: Long) extends StreamPipeline.Notifier {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[NotifyCall]()
  /** Span id per micro-batch, so call spans can name their batch. */
  val batchSpans = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def notify(filterName: String, batchId: Long, passing: DataFrame): Unit = {
    val batchSpan = batchSpans.computeIfAbsent(batchId, _ => tracer.nextId())
    tracer.span(s"notify.$filterName", batchSpan) { id =>
      val t0 = System.nanoTime()
      val err =
        try {
          Workload.withSpan(passing.sparkSession, id) {
            inner.notify(filterName, batchId, passing)
          }
          None
        } catch { case e: Throwable => Some(e) }
      calls.add(NotifyCall(batchId, filterName, System.nanoTime() - t0,
        System.currentTimeMillis(), err))
    }
  }
}

/** `live_fanout`: the livestream path. Closed loop of AvailableNow
  * drains (one file per trigger) through every plain-mask ZTF filter,
  * each passing set appended to its topic by the program's
  * `ParquetTopicNotifier`.
  */
final class LiveFanout(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val PerFile = 250
  val Scenes = 128
  val FilesPerDrain = 2
  val WarmAlerts = 250
  val filters: Seq[String] = Expect.live.map(_._1)

  private var inputDir = ""
  private var perDrain = Map.empty[String, Long]
  private var warmDir = ""
  private var schema: StructType = _

  def prepare(): Unit = {
    val scenes = Stamps.scenes(seed, Scenes)
    val alerts = Alerts.generate(seed, PerFile * FilesPerDrain, 1000000000000L, scenes.size)
    perDrain = Expect.liveCounts(alerts)
    inputDir = work.resolve("stream/alerts").toString
    warmDir = work.resolve("stream/warm").toString
    val warm = Alerts.generate(seed + 1, WarmAlerts, 2000000000000L, scenes.size)
    AlertFrames.write(spark, work.resolve("stream/staging"),
      alerts.grouped(PerFile).map(Path.of(inputDir) -> _).toSeq :+ (Path.of(warmDir) -> warm),
      scenes)
  }

  private def drain(dir: String, notifier: StreamPipeline.Notifier,
      checkpoint: String) =
    StreamPipeline.run(
      StreamPipeline.readParquetStream(spark, dir, schema, maxFilesPerTrigger = 1),
      filters, notifier, Trigger.AvailableNow(), Some(checkpoint))

  def setupRep(): Double = {
    FilterRegistry.all
    schema = AlertSchemas.fromSample(spark, warmDir)
    val t0 = System.nanoTime()
    val missing = filters.flatMap(f =>
      AlertSchemas.missingColumns(schema, f).map(c => s"$f needs $c"))
    val bindMs = Workload.ms(System.nanoTime() - t0)
    require(missing.isEmpty, "generated alerts do not bind: " + missing.mkString(", "))
    bindMs
  }

  def warmUp(): Unit =
    drain(warmDir, new StreamPipeline.ParquetTopicNotifier(
      work.resolve("warm-topics").toString),
      work.resolve("checkpoints/warm").toString).awaitTermination()

  def run(seconds: Double, tracer: Tracer, phase: Phase, parent: Long, tag: String): Unit = {
    val out = work.resolve(s"topics-$tag").toString
    val expected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val calls = mutable.ArrayBuffer.empty[NotifyCall]
    val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
    val wall0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    var d = 0
    // every drain reads the same files from a fresh checkpoint
    while (d == 0 || (System.nanoTime() - nano0) / 1e9 < seconds) {
      tracer.span(s"drain.$d", parent) { drainSpan =>
        val rec = new RecordingNotifier(
          new StreamPipeline.ParquetTopicNotifier(out), tracer, drainSpan)
        val q = drain(inputDir, rec, work.resolve(s"checkpoints/$tag-$d").toString)
        try q.awaitTermination()
        catch { case e: Throwable => phase.fail(s"drain.$d", e) }
        val starts = q.recentProgress.filter(_.numInputRows > 0).map { p =>
          val start = Instant.parse(p.timestamp).toEpochMilli
          val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          progress += dur
          rec.batchSpans.asScala.get(p.batchId).foreach { id =>
            val s0 = nano0 + (start - wall0) * 1000000L
            tracer.record(Span(tracer.run, id, drainSpan, s"micro_batch.${p.batchId}",
              s0, s0 + dur.getOrElse("triggerExecution", 0L) * 1000000L))
          }
          p.batchId -> start
        }.toMap
        rec.calls.asScala.foreach { c =>
          calls += c
          c.error match {
            case Some(e) => phase.fail(s"notify.${c.filter}.batch${c.batchId}", e)
            case None => starts.get(c.batchId).foreach(s =>
              phase.delivery += (c.endWallMs - s).toDouble)
          }
        }
      }
      perDrain.foreach { case (f, k) => expected(f) += k }
      phase.alerts += PerFile * FilesPerDrain
      d += 1
    }
    phase.wallS = (System.nanoTime() - nano0) / 1e9
    phase.units = progress.size
    phase.attempted += calls.size

    // delivered rows per topic against the generator's expectation
    val topicDir = Path.of(out)
    val delivered: Map[String, Long] =
      if (!Files.exists(topicDir)) Map.empty
      else spark.read.parquet(out).groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    filters.foreach { f =>
      val got = delivered.getOrElse(f.replace('.', '-'), 0L)
      if (got != expected(f)) phase.mismatch(s"topic.$f", got, expected(f))
    }

    val files = if (!Files.exists(topicDir)) Seq.empty[Path]
      else Files.walk(topicDir).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    val durs = calls.map(c => Workload.ms(c.durNs)).toSeq
    def stream(keys: String*) = progress.map(m => keys.map(m.getOrElse(_, 0L)).sum)
      .sum.toDouble / math.max(1, progress.size)
    val L = phase.layer
    L("streaming.batches") = progress.size
    L("streaming.add_batch_ms") = stream("addBatch")
    L("streaming.planning_ms") = stream("queryPlanning")
    L("streaming.source_ms") = stream("latestOffset", "getBatch", "getOffset")
    L("streaming.commit_ms") = stream("walCommit", "commitOffsets")
    L("notifier.calls") = calls.size
    L("notifier.failed") = calls.count(_.error.isDefined)
    L("notifier.busy_ms") = durs.sum
    L("notifier.call_p50_ms") = Metrics.percentile(durs, 50)
    L("notifier.call_p99_ms") = Metrics.percentile(durs, 99)
    L("notifier.rows_out") = delivered.values.sum
    L("notifier.files_out") = files.size
    L("notifier.bytes_out") = files.map(Files.size(_)).sum
    L("notifier.pass_ratio") =
      delivered.values.sum.toDouble / math.max(1L, phase.alerts * filters.size)
    L("filters.count") = filters.size
    calls.groupBy(_.filter).foreach { case (f, cs) =>
      L(Metrics.filterMetric(f)) = cs.map(c => Workload.ms(c.durNs)).sum / cs.size
    }
  }
}

/** `night_science`: the after-night path. One batch pass per loop over a
  * seeded night through the stage filters (hostless trio with the image
  * stage and their cheap-cut siblings, early TDE, the four catalog
  * cross-matches, early kilonova with an injected Mangrove catalog), then
  * the nightly top anomalies and the classification histogram. Results
  * are materialized; nothing is written.
  */
final class NightScience(spark: SparkSession, seed: Long, work: Path,
    catalogDir: Path) extends Workload {
  val NightAlerts = 1000
  val Scenes = 128
  val FileCount = 2
  val WarmAlerts = 100
  val MangroveBackground = 4000
  val Xmatch: Seq[String] = Catalogs.specs.map(_.name)
  val EarlyKn = "ztf.livestream.early_kn_candidates"
  val EarlyTde = "ztf.early_tde_candidates"

  private var nightDir = ""
  private var warmDir = ""
  private var mangrove: DataFrame = _
  private var catalogRows = 0L
  private val expected = mutable.Map.empty[String, Long]
  private var tdePrefilter = Set.empty[Long]
  private var topAnomalies = Seq.empty[(Long, String, Double, Int)]
  private var histogram = Seq.empty[(String, Long)]

  def prepare(): Unit = {
    val scenes = Stamps.scenes(seed, Scenes)
    val alerts = Alerts.generate(seed, NightAlerts, 3000000000000L, scenes.size)
    nightDir = work.resolve("night/alerts").toString
    warmDir = work.resolve("night/warm").toString
    AlertFrames.write(spark, work.resolve("night/staging"),
      alerts.grouped(NightAlerts / FileCount).map(Path.of(nightDir) -> _).toSeq :+
        (Path.of(warmDir) -> Alerts.generate(seed + 1, WarmAlerts, 4000000000000L, scenes.size)),
      scenes)

    def both(n: String, cheap: Alert => Boolean): Unit = {
      expected(n + "_fast") = alerts.count(cheap).toLong
      expected(n) = alerts.count(a => cheap(a) && Expect.imageHostless(scenes(a.scene))).toLong
    }
    both("ztf.livestream.new_hostless", Expect.newHostless)
    both("ztf.livestream.intra_night_hostless", Expect.intraNightHostless)
    both("ztf.livestream.inter_night_hostless", Expect.interNightHostless)
    tdePrefilter = alerts.filter(Expect.earlyTdePrefilter).map(_.candid).toSet

    val catalogs = Catalogs.generate(seed, alerts)
    Catalogs.specs.foreach { s =>
      val read = catalogs(s.name).map(Catalogs.asRead(s.name, _))
      expected(s.name) =
        Catalogs.mutualMatches(Catalogs.eligible(s, alerts), read).size.toLong
    }
    catalogRows = catalogs.values.map(_.size.toLong).sum
    writeCatalogs(catalogs)

    val gals = Catalogs.mangrove(seed, alerts, MangroveBackground)
    catalogRows += gals.size
    expected(EarlyKn) = Catalogs.earlyKnMatches(alerts, gals).size.toLong
    import spark.implicits._
    mangrove = gals.map(g => (g.ra, g.dec, g.lumDist, g.angDist))
      .toDF("ra", "dec", "lum_dist", "ang_dist")

    val night = alerts.head.c.jd - 0.5
    topAnomalies = alerts.filter(a => !a.anomaly.isNaN)
      .groupBy(_.objectId).values
      .map(as => as.minBy(a => (a.anomaly, a.candid)))
      .toSeq.sortBy(a => (a.anomaly, a.candid, a.objectId)).take(10)
      .zipWithIndex.map { case (a, i) =>
        (math.floor(night).toLong, a.objectId, a.anomaly, i + 1)
      }
    histogram = alerts.groupBy(Expect.finkClass(_, withTracklet = true))
      .map { case (k, v) => k -> v.size.toLong }.toSeq
      .sortBy { case (k, n) => (-n, k) }
    System.err.println(s"[perfbench] night of $NightAlerts alerts, expected: " +
      expected.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ") +
      s", ${EarlyTde} prefilter=${tdePrefilter.size}")
  }

  private def writeCatalogs(catalogs: Map[String, Vector[Source]]): Unit = {
    import spark.implicits._
    def parquet(rel: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(catalogDir.resolve(rel).toString)
    parquet("ztf/filter_known_tde/data/tde.parquet",
      catalogs("ztf.known_tde").map(s => (s.name, s.ra, s.dec)).toDF("name", "ra", "dec"))
    parquet("data/symbiotic_and_cataclysmic.parquet",
      catalogs("ztf.symbiotic_stars").zipWithIndex.map { case (s, i) =>
        (s.name, if (i % 2 == 0) "symbiotic" else "cataclysmic",
          Catalogs.hms(s.ra), Catalogs.dms(s.dec), s.radius)
      }.toDF("Name", "source", "RA(J2000)", "DEC(J2000)", "Radius"))
    parquet("data/list_dwarfs_AGN_RADEC.parquet",
      catalogs("ztf.dwarf_agn").map(s => (s.name, s.ra, s.dec, s.radius))
        .toDF("MaNGAID", "RA", "DEC", "Re_arc"))
    val csv = ("Name,RA(J2000),DEC(J2000),Radius" +:
      catalogs("ztf.livestream.magnetic_cvs").map(s =>
        s"${s.name},${Catalogs.hms(s.ra)},${Catalogs.dms(s.dec)},${s.radius}"))
      .mkString("\n")
    val csvPath = catalogDir.resolve("data/magnetic_cataclysmic_variables.csv")
    Files.createDirectories(csvPath.getParent)
    Files.write(csvPath, csv.getBytes("UTF-8"))
  }

  private def apply(df: DataFrame, name: String): DataFrame =
    if (name == EarlyKn) EarlyKnFilter.earlyKnCandidates(mangrove)(df)
    else FilterRegistry.applyFilter(df, name)

  private val stages = Metrics.nightStages

  def setupRep(): Double = {
    FilterRegistry.all
    val schema = AlertSchemas.fromSample(spark, warmDir)
    val t0 = System.nanoTime()
    val missing = stages.flatMap(f =>
      AlertSchemas.missingColumns(schema, f).map(c => s"$f needs $c"))
    val bindMs = Workload.ms(System.nanoTime() - t0)
    require(missing.isEmpty, "generated alerts do not bind: " + missing.mkString(", "))
    bindMs
  }

  def warmUp(): Unit = {
    val df = spark.read.parquet(warmDir)
    stages.foreach(s => apply(df, s).queryExecution.toRdd.count())
    nightly(df).collect()
    Classify.classHistogram(df).collect()
  }

  private def nightly(df: DataFrame): DataFrame =
    AnomalyPipeline.nightlyTopAnomalies(
      df.withColumn("night", floor(col("candidate.jd") - 0.5)))

  def run(seconds: Double, tracer: Tracer, phase: Phase, parent: Long, tag: String): Unit = {
    val times = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val nano0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - nano0) / 1e9 < seconds) {
      tracer.span(s"pass.$pass", parent) { passSpan =>
        val p0 = System.nanoTime()
        val df = spark.read.parquet(nightDir)
        def op[T](name: String, metric: String)(body: => T)(check: T => Unit): Unit =
          tracer.span(name, passSpan) { id =>
            phase.attempted += 1
            val t0 = System.nanoTime()
            try {
              val r = Workload.withSpan(spark, id)(body)
              val t1 = System.nanoTime()
              times(metric) += Workload.ms(t1 - t0)
              phase.delivery += Workload.ms(t1 - p0)
              check(r)
            } catch { case e: Throwable => phase.fail(s"$name.pass$pass", e) }
          }
        stages.filter(_ != EarlyTde).foreach { s =>
          op(s, Metrics.filterMetric(s))(apply(df, s).queryExecution.toRdd.count()) { n =>
            if (n != expected(s)) phase.mismatch(s"$s.pass$pass", n, expected(s))
          }
        }
        // the fitted stage is not replicated: its candidates must be
        // prefilter survivors
        op(EarlyTde, Metrics.filterMetric(EarlyTde))(
          apply(df, EarlyTde).select("candid").collect().map(_.getLong(0)).toSet) { got =>
          val stray = got -- tdePrefilter
          if (stray.nonEmpty) phase.mismatch(s"$EarlyTde.pass$pass", stray.take(5),
            "prefilter survivors only")
        }
        op("anomaly.topk", "anomaly.topk_ms")(nightly(df).collect()) { rows =>
          val got = rows.toSeq.map(r => (r.getLong(0), r.getString(1),
            r.getDouble(2), r.getInt(3))).sortBy(_._4)
          if (got != topAnomalies) phase.mismatch(s"anomaly.topk.pass$pass", got, topAnomalies)
        }
        op("classify.histogram", "classify.histogram_ms")(
          Classify.classHistogram(df).collect()) { rows =>
          val got = rows.toSeq.map(r => r.getString(0) -> r.getLong(1))
          if (got != histogram) phase.mismatch(s"classify.histogram.pass$pass", got, histogram)
        }
      }
      phase.alerts += NightAlerts
      pass += 1
    }
    phase.wallS = (System.nanoTime() - nano0) / 1e9
    phase.units = pass

    val L = phase.layer
    times.foreach { case (k, v) => L(k) = v / pass }
    L("filters.count") = stages.size
    L("xmatch.ms") = Xmatch.map(x => times(Metrics.filterMetric(x))).sum / pass
    L("xmatch.catalog_rows") = catalogRows
  }
}

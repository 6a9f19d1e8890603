package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Benchmark main program: one workload, one JVM, `local[4]`.
  *
  * {{{
  * Main --workload live_fanout|night_science --seed N --seconds S
  *      --trace 0|1 --work DIR [--spans FILE]
  * }}}
  * Set-up time is session start, plus the median of [[SetupReps]]
  * repetitions of registry load, schema capture and binding, plus one
  * warm-up run on a small input. An untraced phase gives the end-to-end
  * metrics. With `--trace 1` a traced phase (listeners, spans) and a
  * second untraced phase follow: the traced phase gives the per-layer
  * metrics, and the tracing overhead is taken against the mean of the
  * untraced phases before and after it, so that phase-order effects (JIT,
  * warm caches) cancel. The last stdout line is the JSON result.
  */
object Main {
  val SetupReps = 3
  val Workloads = Seq("live_fanout", "night_science")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, spans: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; known: ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Path.of(need("work")).toAbsolutePath, m.get("spans").map(Path.of(_)))
  }

  def session(work: Path): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  def workload(name: String, spark: SparkSession, seed: Long, work: Path): Workload =
    name match {
      case "live_fanout" => new LiveFanout(spark, seed, work)
      case "night_science" =>
        val dir = sys.env.get("FINK_FILTERS_DATA").map(Path.of(_).toAbsolutePath)
          .getOrElse(throw new IllegalStateException(
            "FINK_FILTERS_DATA is not set: night_science writes its cross-match " +
              "catalogs there for the program's catalog loaders"))
        new NightScience(spark, seed, work, dir)
    }

  private def codegenNs: Long = CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime

  /** End-to-end figures of a phase. */
  def endToEnd(p: Phase): Map[String, Double] = Map(
    "alerts_per_s" -> p.alerts / p.wallS,
    "delivery_p50_ms" -> Metrics.percentile(p.delivery.toSeq, 50),
    "delivery_p99_ms" -> Metrics.percentile(p.delivery.toSeq, 99),
    "peak_rss_mb" -> p.peakRssMb)

  /** Runs one phase; traced phases also fill the Spark and JVM layers.
    * `tag` names the phase and keeps its outputs apart.
    */
  def measure(spark: SparkSession, wl: Workload, a: Args, tag: String,
      tracer: Tracer): Phase = {
    val traced = tracer.enabled
    val phase = new Phase
    val probe = if (traced) Some(new SparkProbe(tracer)) else None
    probe.foreach(_.attach(spark))
    Jvm.resetPeakRss()
    val cpu0 = Jvm.processCpuNs; val gc0 = Jvm.gcPauseMs; val cg0 = codegenNs
    val t0 = System.nanoTime()
    tracer.span(s"phase.$tag", 0L) { id =>
      Workload.withSpan(spark, id)(wl.run(a.seconds, tracer, phase, id, tag))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    phase.peakRssMb = Jvm.peakRssMb
    PerfbenchBridge.drainListeners(spark.sparkContext)
    probe.foreach { pr =>
      pr.detach(spark)
      val u = math.max(1L, phase.units).toDouble
      val cpuNs = Jvm.processCpuNs - cpu0
      val L = phase.layer
      L("spark.jobs") = pr.jobs.sum / u
      L("spark.stages") = pr.stages.sum / u
      L("spark.tasks") = pr.tasks.sum / u
      L("spark.task_cpu_ms") = pr.taskCpuNs.sum / 1e6 / u
      L("spark.task_run_ms") = pr.taskRunMs.sum / u
      L("spark.gc_ms") = pr.gcMs.sum / u
      L("spark.scan_bytes") = pr.scanBytes.sum / u
      L("spark.shuffle_read_bytes") = pr.shuffleRead.sum / u
      L("spark.shuffle_write_bytes") = pr.shuffleWrite.sum / u
      L("spark.spill_bytes") = pr.spill.sum / u
      L("spark.output_bytes") = pr.outputBytes.sum / u
      L("spark.plan_ms") = pr.planMs.sum / u
      L("spark.codegen_ms") = (codegenNs - cg0) / 1e6 / u
      L("spark.cpu_util") = cpuNs / 1e9 / (wall * spark.sparkContext.defaultParallelism)
      L("jvm.driver_cpu_ms") = (cpuNs - pr.taskCpuNs.sum) / 1e6 / u
      L("jvm.gc_pause_ms") = (Jvm.gcPauseMs - gc0) / u
      L("jvm.heap_after_gc_mb") = Jvm.heapAfterGcMb
      L("jvm.cached_mb_end") = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      L("delivery.samples") = phase.delivery.size
    }
    System.err.println(s"[perfbench] phase $tag: " + endToEnd(phase).toSeq
      .map { case (m, v) => f"$m $v%.2f" }.mkString(", "))
    phase
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"

    val s0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val wl = workload(a.workload, spark, a.seed, a.work)
    val p0 = System.nanoTime()
    wl.prepare()
    System.err.println(f"[perfbench] inputs generated in ${(System.nanoTime() - p0) / 1e9}%.3f s")

    val reps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val bindMs = wl.setupRep()
      ((System.nanoTime() - t0) / 1e9, bindMs)
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Metrics.median(reps.map(_._1)) + warmS
    System.err.println(f"[perfbench] session ${sessionS}%.3f s, set-up reps " +
      reps.map(r => f"${r._1}%.3f").mkString(", ") + f" s, warm-up $warmS%.3f s")

    val plain = measure(spark, wl, a, "untraced", new Tracer(runId, enabled = false))
    val plainE2e = endToEnd(plain) + ("setup_s" -> setupS)

    val traced = if (!a.trace) None else {
      val tracer = new Tracer(runId, enabled = true)
      val t = measure(spark, wl, a, "traced", tracer)
      a.spans.foreach { f =>
        Files.createDirectories(f.toAbsolutePath.getParent)
        tracer.writeJsonl(f)
      }
      Some((t, measure(spark, wl, a, "untraced-after", new Tracer(runId, enabled = false))))
    }

    val calib = Jvm.calibrate()
    val calibPar = Jvm.calibratePar(spark)
    System.err.println(f"[perfbench] host canaries: calibration_s $calib%.3f, " +
      f"calibration_par_s $calibPar%.3f")

    val phases = plain +: traced.toSeq.flatMap { case (t, after) => Seq(t, after) }
    val attempted = phases.map(_.attempted).sum
    val failures = phases.flatMap(_.failures) ++
      (if (attempted == 0) Seq(Failure("run", "NoOperation", "no operation ran")) else Nil)
    failures.foreach(f => System.err.println(
      s"[perfbench] FAILED ${f.op}: ${f.cls}: ${f.message}"))
    System.err.println(f"[perfbench] ${plain.alerts} alerts in ${plain.wallS}%.2f s, " +
      s"${plain.units} units, ${plain.delivery.size} delivery samples, " +
      s"$attempted operations, ${failures.size} failed")

    val metrics: Seq[(String, Any)] = traced match {
      case None =>
        Metrics.endToEnd.map { case (m, unit) =>
          m -> ListMap("value" -> plainE2e(m), "unit" -> unit)
        }
      case Some((t, after)) =>
        val tracedE2e = endToEnd(t)
        val afterE2e = endToEnd(after)
        def delta(m: String) = tracedE2e(m) - (plainE2e(m) + afterE2e(m)) / 2
        val layer = t.layer.toMap ++ Map(
          "filters.bind_ms" -> Metrics.median(reps.map(_._2)),
          "host.calibration_s" -> calib,
          "host.calibration_par_s" -> calibPar) ++
          Seq("alerts_per_s", "delivery_p50_ms", "delivery_p99_ms", "peak_rss_mb")
            .map(m => s"tracing.${m}_delta" -> delta(m))
        Metrics.perLayer.map { case (m, unit) =>
          m -> ListMap("value" -> layer.getOrElse(m, 0.0), "unit" -> unit)
        }
    }
    spark.stop()
    println(Json(ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> math.max(1L, attempted),
      "failed" -> failures.size,
      "metrics" -> ListMap(metrics: _*))))
  }
}

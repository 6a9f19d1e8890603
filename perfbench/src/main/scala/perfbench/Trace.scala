package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one benchmark run share `run`; `parent`
  * is the span that caused this one (0 for a root).
  */
final case class Span(run: String, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. When
  * disabled it only runs the body, so untraced runs pay nothing.
  */
final class Tracer(val run: String, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def span[T](name: String, parent: Long)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(run, id, parent, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path,
      all.sortBy(_.startNs).map(Json(_)).mkString("\n").getBytes("UTF-8"))
}

object Tracer {
  /** Spark local property carrying the benchmark span a job belongs to. */
  val SpanProperty = "perfbench.span"
}

/** Counters read at the Spark layer boundaries: scheduler events (jobs,
  * stages, task metrics) and finished query executions (planning
  * phases). Attached only for traced runs; each Spark job also becomes
  * a span whose parent is the benchmark span that submitted it.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskCpuNs, taskRunMs, gcMs, scanBytes, shuffleRead,
      shuffleWrite, spill, outputBytes, planMs = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (parent, System.nanoTime()))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (parent, t0) =>
      tracer.record(Span(tracer.run, tracer.nextId(), parent,
        s"spark.job.${e.jobId}", t0, System.nanoTime()))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.add(m.executorCpuTime)
      taskRunMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      scanBytes.add(m.inputMetrics.bytesRead)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Process-wide JVM and host readings. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  def gcPauseMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after the last collection of each pool, MB. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Resets the peak resident set (VmHWM) to the current resident set,
    * so that the next [[peakRssMb]] reading is the peak since this call.
    */
  def resetPeakRss(): Unit =
    java.nio.file.Files.write(java.nio.file.Path.of("/proc/self/clear_refs"), "5".getBytes)

  /** Peak resident set size of this process, MB (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Wall seconds of a fixed single-thread integer loop: the host-speed
    * canary. Its ratio between two runs is their speed factor.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 400000000L) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= h >>> 29
      i += 1
    }
    if (h == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same canary fanned across every core as a Spark job over
    * 8 MiB of memory per core: it also sees memory-bandwidth contention.
    */
  def calibratePar(spark: SparkSession): Double = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    val s = spark.sparkContext.parallelize(0 until n, n).map { p =>
      val arr = new Array[Long](1 << 20)
      var h = 0x9E3779B97F4A7C15L + p
      var i = 0L
      while (i < 40000000L) {
        val idx = ((h >>> 17) & ((1 << 20) - 1)).toInt
        arr(idx) += h
        h = h * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      arr(0) + h
    }.sum()
    if (s == 42.0) print("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** JSON for the result line and the span file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

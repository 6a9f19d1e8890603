package org.apache.spark

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached the listeners, so a spec can count
  * the jobs an action started right after the action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The Spark jobs that `body` starts on the calling thread: `body` runs
  * under a job group of its own, and the group's job starts are counted
  * once the listener bus has drained.
  */
object JobCount {
  private val groups = new AtomicLong

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${groups.incrementAndGet()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** The operating-system processes started while `body` runs, by any
  * thread of this JVM: `body` runs under a flight recording of
  * `jdk.ProcessStart` events, which are read back afterwards. Each is
  * the command line as the JVM reports it.
  */
object ProcessStarts {
  def apply[T](body: => T): (T, Seq[String]) = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val out = try body finally recording.stop()
      val file = Files.createTempFile("process-starts", ".jfr")
      try {
        recording.dump(file)
        val commands = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
        (out, commands)
      } finally Files.deleteIfExists(file)
    } finally recording.close()
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic: per-JOB cost breakdown of one gate query at sf0.1 —
  * where the fixed per-gate overhead (the r12→r13 bench-ratio driver)
  * actually goes. Run:
  *   sbt 'Test/runMain graft.tools.ProfileGateJobs q108_bm25'
  *
  * Round-13 findings (32 cores, warm, idle window):
  *  - q108 ≈ 2.3 s wall = ~10 Spark jobs: the docs spread-cache
  *    materialization, three broadcast jobs (qTok⋈df, stats, candidate
  *    sets), the postings persist fill, and the probe's AQE stages.
  *    Each job is 0.1–0.4 s of scheduling + 32-task latency at data
  *    sizes DuckDB covers in one morsel pass — the local-scale
  *    constant, not a scale defect.
  *  - eager operator-internal localCheckpoints each add a dedicated
  *    materialization job; q114's seven sites were the largest single
  *    block of gate jobs before the round-13 lazy flip.
  */
object ProfileGateJobs {
  def main(args: Array[String]): Unit = {
    // comma-separated names profile several gates in ONE session
    // (saves a JVM+session start per gate when surveying a family)
    val names = args.headOption.getOrElse("q108_bm25").split(",").toSeq
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.get()
    val starts = scala.collection.concurrent.TrieMap[Int, Long]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val stageOfJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val stageNames = scala.collection.concurrent.TrieMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts(j.jobId) = j.time
        j.stageIds.foreach(s => stageOfJob(s) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { t0 =>
          jobs.synchronized { jobs += ((j.jobId, (j.time - t0) / 1e3)) }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val jid = stageOfJob.getOrElse(s.stageInfo.stageId, -1)
        val line = s.stageInfo.name.linesIterator.next().take(90)
        stageNames(jid) = stageNames.getOrElse(jid, "") + s" | $line"
      }
    })
    names.foreach { name =>
      def run(): Unit = graft.SparkEntry.queries(name)(spark, sf)
        .write.mode("overwrite").format("noop").save()
      run() // warm
      spark.catalog.clearCache()
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener drain
      val js = jobs.synchronized(jobs.toVector)
      println(f"$name: wall $wall%.2f s, ${js.size} jobs, " +
        f"job-time sum ${js.map(_._2).sum}%.2f s")
      js.sortBy(-_._2).take(20).foreach { case (id, s) =>
        println(f"  job $id%3d: $s%.3f s ${stageNames.getOrElse(id, "")}")
      }
    }
    spark.stop()
  }
}

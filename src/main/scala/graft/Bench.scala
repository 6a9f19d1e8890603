package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology (the round-8 noise study, SURVEY §8, made executable):
  * one untimed warmup pass (JIT + codegen + parquet footer caches —
  * Spark's first-query cost is compilation, not execution), then
  * SPARK_GRAFT_REPS (default 3) timed passes of the FULL suite,
  * INTERLEAVED — rep k times every query before rep k+1 starts, so an
  * ambient load spike on a shared host lands on *different* queries in
  * different reps instead of poisoning all reps of one query. Reported
  * time is min-over-reps (steady-state cost); the `spread` field
  * carries max/min per query so a rep-to-rep drift like round 8's q54
  * artifact is visible inside the artifact itself (spread near 1 =
  * stable; large spread = ambient noise, distrust the single number).
  * Results are fully materialized through the `noop` sink so every
  * column is computed (a bare count() lets Spark skip projects).
  * `calibration_s`/`calibration_spread` carry a fixed-work
  * single-thread canary timed at the head of each rep: the ratio of
  * two rounds' calibration_s IS the host-speed factor between them —
  * divide suite times by it before reading a cross-round delta.
  * `calibration_par_s` is the same idea fanned across every core with
  * per-core cache-busting memory traffic — the single-thread loop is
  * blind to parallel memory-bandwidth contention (observed: a uniform
  * ~1.2× suite slowdown with calibration_s moving 2%), and the ratio
  * between the two canaries separates "slower cores" from "contended
  * bandwidth".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    val spark = Sessions.get()
    // dev-only subset filter (comma-separated names); the driver never
    // sets it, so driver runs always time the full suite. Unknown names
    // fail loudly — a typo timing an empty suite would read as a 0 s
    // "result"
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY unknown: $unknown")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // "<query>: <exception class>: <message>"; the first line of the
    // message only, so a plan-bearing analysis error stays one line
    def reason(e: Throwable): String =
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator
        .nextOption().getOrElse("").take(500)}"
    if (warmup) names.foreach { n =>
      try run(n) catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $n: ${reason(e)}")
      }
      spark.catalog.clearCache()
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // query -> reason of its first failure
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // fixed-work ambient-load canary: a constant-input integer-mix loop
    // (single-threaded, allocation-free, input-independent) timed once
    // per rep, so every BENCH artifact carries its own host factor —
    // the round-9 driver bench ran ~1.9x hot and only an out-of-band
    // study could prove it. Cross-round comparisons normalize by the
    // calibration ratio instead of guessing at ambient load.
    def calibrate(iters: Long): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        h = h * 6364136223846793005L + 1442695040888963407L
        h ^= h >>> 29
        i += 1
      }
      if (h == 42L) print("") // the result is live; the loop can't fold
      (System.nanoTime() - t0) / 1e9
    }
    var calib = Vector.empty[Double]
    // SECOND canary: the same fixed work fanned across every core as a
    // Spark job over per-core memory-touching partitions. The
    // single-thread loop is blind to the parallel memory-bandwidth
    // contention class (measured: suite uniformly ~1.2× slower across
    // untouched queries while calibration_s moved 2%) — the ratio
    // calibration_par_s/calibration_s between two artifacts separates
    // "slower cores" from "contended parallel bandwidth".
    def calibratePar(): Double = {
      val n = Sessions.cpus
      val t0 = System.nanoTime()
      val s = spark.sparkContext.parallelize(0 until n, n).map { p =>
        val arr = new Array[Long](1 << 20) // 8 MiB per core, cache-busting
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
    var calibPar = Vector.empty[Double]
    calibratePar() // discarded: JIT/scheduler warm-up, so the recorded
    // spread reflects ambient contention rather than first-call compile
    // MID-REP canary: a 0.1× calibration sample (40M iterations) every
    // ~25 queries. Head-of-rep canaries were blind to contention that
    // arrived MID-rep twice running (the r11/r12 bench artifacts read
    // idle at the head while a q38–q76-sized block ran 8–28× hot) — the
    // inline series labels any contended window inside the artifact
    // itself, and it is emitted at the END of the JSON line so a
    // tail-truncated capture still carries it. Cost: ~0.09 s ×
    // (queries/25) × reps.
    var midCanary = Vector.empty[(Int, Int, Double)] // (rep, qIdx, s)
    var repNo = 0
    var qIdx = 0
    // interleaved: outer loop over reps, inner over queries (see scaladoc)
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; name <- ("" +: names)) if (name.isEmpty) {
      repNo += 1
      qIdx = 0
      // one canary sample of each kind at the head of each rep —
      // contention DURING the run shows up as calibration spread, not
      // just a hot start
      calib = calib :+ calibrate(400000000L)
      calibPar = calibPar :+ calibratePar()
      // settle: the parallel canary just churned cpus × 8 MiB of
      // cache-busting arrays — without an untimed collection point its
      // GC debt lands on the rep's FIRST timed query (observed as a
      // first-query-only spread). The canary measures the host; it must
      // not tax the suite.
      System.gc()
      Thread.sleep(200L)
    } else {
      val t0 = System.nanoTime()
      // a failure must not read as a speedup: record the query in
      // `failed` and report a -1 sentinel time instead of its (short)
      // time-to-throw
      try run(name) catch { case e: Throwable =>
        val r = reason(e)
        System.err.println(s"[bench] $name: $r")
        failed.getOrElseUpdate(name, r)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // isolate queries: drop any persist() a query created so later
      // queries aren't taxed by cache eviction / GC pressure (untimed)
      spark.catalog.clearCache()
      times(name) = times(name) :+ dt
      qIdx += 1
      if (qIdx % 25 == 0) midCanary = midCanary :+
        ((repNo, qIdx, calibrate(40000000L)))
    }
    def round3(v: Double): Double = math.rint(v * 1000) / 1000
    val results = names.map { name =>
      name -> (if (failed.contains(name)) -1.0 else times(name).min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = names.map { n =>
      val ts = times(n)
      val r = if (failed.contains(n) || ts.isEmpty || ts.min <= 0) -1.0
        else round3(ts.max / ts.min)
      s"\"" + n + "\":" + r
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedReasons = failed
      .map { case (n, r) => s"${Verify.jsonString(n)}:${Verify.jsonString(r)}" }
      .mkString("{", ",", "}")
    val calibS = round3(calib.min)
    val calibSpread = round3(calib.max / calib.min)
    val calibParS = round3(calibPar.min)
    val calibParSpread = round3(calibPar.max / calibPar.min)
    // [[rep, queryIndex, seconds], ...] — 0.1× calibration samples taken
    // inline every 25 queries; spread over the series labels contended
    // windows mid-rep (kept LAST in the line so tail truncation
    // preserves it)
    val midJson = midCanary
      .map { case (r, q, s) => s"[$r,$q,${round3(s)}]" }
      .mkString("[", ",", "]")
    val midSpread = if (midCanary.isEmpty) -1.0
      else round3(midCanary.map(_._3).max / midCanary.map(_._3).min)
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"reps":$reps,"failed":$failedJson,"failed_reasons":$failedReasons,"calibration_s":$calibS,"calibration_spread":$calibSpread,"calibration_par_s":$calibParS,"calibration_par_spread":$calibParSpread,"sf":"$sfDir","canary_mid_spread":$midSpread,"canary_mid_series":$midJson}"""
    println(fullLine)
    // Belt-and-braces: the full artifact also lands in a FILE (the
    // driver's harness keeps only the last 2000 stdout chars — every
    // BENCH_r*.json through r14 is parsed:null because of it), so a
    // same-host pair can always be committed from the file even when
    // the console capture truncates.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_full.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      println(s"bench: could not write $outPath: ${e.getMessage}")
    }
    // FINAL line: a self-contained ≤1800-char JSON that survives the
    // 2000-char tail capture INTACT — the full line's fields
    // (value/unit/queries/sf) under its own metric name, `total_tail`,
    // so a tail-only parser finds one complete record and cannot take
    // it for the full `total` line. The 142 full query names alone are
    // 2344 bytes, so the whole map can NEVER fit a 2000-char tail (r14
    // verdict's "2-decimal values" prescription underestimates this);
    // the map here carries as many per-query seconds as fit, MOST
    // EXPENSIVE FIRST (the queries whose round-over-round and
    // core-scaling deltas matter), with the omission made explicit.
    // `value` is still the full-suite total over all queries; the
    // complete map is the first line above and the artifact file.
    def round2(v: Double): Double = math.rint(v * 100) / 100
    val byCost = results.sortBy { case (_, v) => -v }
    def tailLine(queries: String, omitted: Int): String =
      s"""{"metric":"total_tail","value":${round3(total)},"unit":"sec","queries":$queries,"queries_omitted":$omitted,"nqueries":${results.size},"reps":$reps,"failed":$failedJson,"calibration_s":$calibS,"calibration_par_s":$calibParS,"canary_mid_spread":$midSpread,"sf":"$sfDir"}"""
    // everything but the map's entries; omitted can have at most as
    // many digits as the query count
    val headerLen = tailLine("{}", results.size).length
    // 2000-char tail minus sbt's "[info] " prefix on this line and the
    // trailing "[success] Total time: ..." line (~82 chars with its
    // newline) — keep the WHOLE final line inside the surviving window
    val budget = 1800 - headerLen
    val picked = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var used = 0
    byCost.foreach { case (n, v) =>
      val entry = n.length + 4 + round2(v).toString.length
      if (used + entry <= budget) { picked += ((n, round2(v))); used += entry }
    }
    val pickedSet = picked.map(_._1).toSet
    val compactQs = results.filter(p => pickedSet.contains(p._1))
      .map { case (k, v) => s"\"" + k + "\":" + round2(v) }
      .mkString("{", ",", "}")
    val tail = tailLine(compactQs, results.size - picked.size)
    require(tail.length <= 1800,
      s"bench: tail line is ${tail.length} chars, over the 1800 budget")
    println(tail)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Soak and diagnostic scenarios (manual, not tests), one per run:
  *
  *   sbt 'Test/runMain graft.tools.Soak <scenario> [args]'
  *
  * With no argument it lists the scenarios. Every scenario runs in the
  * shared [[graft.Sessions]] session (so `SPARK_GRAFT_CPUS` sets the
  * cores), prints one `label: seconds` line per timed stage, and times
  * a stage by materializing its result through the `noop` sink.
  *
  * The `*100x` scenarios other than `scale100x` share one md5-derived
  * corpus ([[rareCorpus]]: no RNG, reproducible across runs). Figures
  * quoted below are from a 32-core host unless stated.
  */
object Soak {

  private lazy val spark = graft.Sessions.get()
  private val Sf01 = "/root/testdata/sf0.1"

  private case class Scenario(name: String, about: String,
      run: Array[String] => Unit)

  private val scenarios = Seq(
    Scenario("dedup10x", "near-dup -> clustering, temporal operators, " +
      "LM/bloom/q41, BPE, KLL and PQ on 10 id-shifted copies of sf0.1",
      _ => dedup10x()),
    Scenario("scale100x", "dedup/ANN batch paths on 100 copies of sf0.1 " +
      "(500k docs / 200k vectors) + streaming sink throughput",
      _ => scale100x()),
    Scenario("setsim100x", "q95 set-sim join, q105 spans, q96 PageRank, " +
      "q97 k-means, q98 kNN join, IVF occupancy at 100x",
      _ => setsim100x()),
    Scenario("bm25-100x", "q107/q108/q114 BM25 channels, MaxScore and " +
      "RRF fusion on the rare corpus", _ => bm25x()),
    Scenario("positional100x", "q115-q118 positional index build vs " +
      "held-index probes vs one-shot searches", _ => positionalx()),
    Scenario("gram-impact100x", "q121-q125 gram index, impact " +
      "quantization, boolean probe and delete maintenance",
      _ => gramImpactx()),
    Scenario("colloc100x", "q126 collocations + q127 two-level packing " +
      "== naive cumsum, asserted", _ => collocx()),
    Scenario("maintain100x", "q130-q136 upsert, bm25f, sharded probe, " +
      "tiered serving, min-max fusion, RBO and MMR", _ => maintainx()),
    Scenario("unigram100x", "q138 unigram-LM training + application",
      _ => unigramx()),
    Scenario("rag100x", "RagPipeline.prepare end to end (~1M passages)",
      _ => ragx()),
    Scenario("dsir-wordpiece100x", "q140 DSIR selection + q141 " +
      "WordPiece training and application", _ => dsirWordPiecex()),
    Scenario("rotate10x", "q28/q29 on a content-rotated 10x copy " +
      "[sfDir, default sf0.1]",
      a => rotate10x(a.headOption.getOrElse(Sf01))),
    Scenario("skew", "hot-key join: plain SMJ vs AQE skew split vs " +
      "salted join", _ => skew()),
    Scenario("q108", "where one-shot q108 spends its time at sf0.1",
      _ => q108()),
    Scenario("q95", "q95 positional-bound candidate cut + q95/q97 reps " +
      "at sf0.1", _ => q95()),
    Scenario("q41", "q41 LSH vs exact top-20 and the band-collision " +
      "margins [sfDir, default /tmp/sf1]",
      a => q41(a.headOption.getOrElse("/tmp/sf1"))))

  def main(args: Array[String]): Unit =
    args.headOption.flatMap(n => scenarios.find(_.name == n)) match {
      case Some(s) =>
        s.run(args.tail)
        spark.stop()
      case None =>
        args.headOption.foreach(n => System.err.println(s"unknown scenario: $n"))
        println("usage: graft.tools.Soak <scenario> [args]")
        scenarios.foreach(s => println(f"  ${s.name}%-20s ${s.about}"))
        if (args.nonEmpty) sys.exit(1)
    }

  // ---- shared helpers ----

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Times a full materialization of `df`; `clear` then drops every
    * cached relation (pass false where a held index must survive).
    */
  private def noop(label: String, clear: Boolean = true)(
      df: => DataFrame): Unit = {
    time(label)(df.write.format("noop").mode("overwrite").save())
    if (clear) spark.catalog.clearCache()
  }

  /** Temp dir removed at JVM exit, so a failed soak cannot leak
    * multi-hundred-MB copies in /tmp.
    */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
    d.toString
  }

  /** `k` copies of `df`, copy i shifted by `f(copy, i)`. */
  private def copies(df: DataFrame, k: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(i => f(df, i)).reduce(_ unionByName _)

  /** 500k docs × 43 tokens with a realistic Zipf split, unlike the
    * tiny-vocabulary gate fixture: 40 tokens from a 100k-term rare
    * vocabulary (blocks of 50 consecutive docs share them, and the
    * vocabulary wraps every 2,500 blocks, so each token set recurs in
    * 200 docs: queries and phrases have real matches; sparse postings,
    * the regime the token equi-join is built for) plus 3 from a 10-term
    * stopword pool (the skew hazard). Columns (`id`, text), localCheckpointed;
    * 100 query docs are the ids divisible by 5000.
    */
  def rareCorpus(id: String = "did"): DataFrame = {
    val rare = transform(sequence(lit(0), lit(39)),
      i => concat(lit("t"), substring(md5(
        (((col("doc_id") / 50).cast("long") * 40 + i) % 100000)
          .cast("string")), 1, 8)))
    val stop = transform(sequence(lit(0), lit(2)),
      i => concat(lit("the"), pmod(col("doc_id") + i, lit(10))
        .cast("string")))
    spark.range(500000L).toDF("doc_id")
      .select(col("doc_id").as(id),
        concat_ws(" ", concat(rare, stop)).as("text"))
      .localCheckpoint()
  }

  /** First bigram of each query doc. */
  private def leadPhrases(qdocs: DataFrame): DataFrame = qdocs
    .select(col("did").as("qid"), element_at(
      graft.expressions.WordShingles.shingles(col("text"), 2), 1)
      .as("phrase"))
    .localCheckpoint()

  /** AvailableNow drain of a parquet directory through `sink`, 8 files
    * per trigger; prints rows/s.
    */
  private def drain(label: String, dir: String, ckpt: String)(
      sink: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[_])
      : Unit = {
    val n = spark.read.parquet(dir).count()
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 8).parquet(dir)
    val t0 = System.nanoTime()
    sink(src).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"$label: $n rows in $dt%.1f s = ${n / dt}%.0f rows/s")
  }

  // ---- scenarios ----

  /** Every doc gains 9 exact replicas: clusters grow ~10× and
    * in-bucket pair counts ~100×, the worst-case duplication profile
    * for LSH banding + connected components. Events, lineitem and
    * vectors scale on the key axis at fixed per-key density.
    */
  private def dedup10x(): Unit = {
    val base = spark.read.parquet(s"$Sf01/documents.parquet")
    val n = base.count()
    val big = copies(base, 10)((d, k) =>
      d.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars")))
    println(s"soak corpus: ${n * 10} docs (10 x $n)")
    val pairs = graft.llmops.Dedup.nearDupPairs(big, threshold = 0.3)
    println("pairs: " + time("nearDupPairs (10x, exact-dup heavy)")(
      pairs.count()))
    // construction is eager (localCheckpoint rounds), so time the call
    val cc = time("connectedComponents") {
      val c = graft.llmops.Cluster.connectedComponents(pairs, "doc_a",
        "doc_b")
      c.count()
      c
    }
    println(s"clustered docs: ${cc.count()} in " +
      s"${cc.select("cluster_rep").distinct().count()} clusters")
    println(s"kept after dedup: " + time("dedupCorpus end-to-end")(
      graft.llmops.Cluster.dedupCorpus(big, threshold = 0.3).count()))

    // temporal operators on 10× the user keys, materialized so the
    // query mains run unmodified against the copy
    val evDir = tempDir("graft_soak_events")
    copies(graft.operators.CoreQueries.events(spark, Sf01), 10)((e, k) =>
      e.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 10000L)).as("user_id"),
        col("event_type"), col("value"), col("props")))
      .write.mode("overwrite").parquet(s"$evDir/events.parquet")
    import graft.operators.EventQueries._
    for ((label, q) <- Seq[(String, () => DataFrame)](
        "q35 as-of" -> (() => q35AsofAttribution(spark, evDir)),
        "q38 sessionize" -> (() => q38Sessionize(spark, evDir)),
        "q44 interval join" -> (() => q44IntervalJoin(spark, evDir)),
        "q48 funnel" -> (() => q48SessionFunnel(spark, evDir)),
        "q52 retention" -> (() => q52RetentionCohorts(spark, evDir)),
        "q66 streaks" -> (() => q66Streaks(spark, evDir)),
        "q70 incremental rollup" -> (() => q70IncrementalRollup(spark, evDir))))
      noop(s"$label 10x", clear = false)(q())

    // triangles on 10 disjoint co-supply graphs: the vertex axis
    // scales, the wedge fan-out (per-graph density) stays fixed
    val liDir = tempDir("graft_soak_li")
    copies(graft.operators.CoreQueries.table(spark, Sf01, "lineitem")
        .select("l_partkey", "l_suppkey"), 10)((li, k) =>
      li.select((col("l_partkey") + lit(k * 10000000L)).as("l_partkey"),
        (col("l_suppkey") + lit(k * 1000000L)).as("l_suppkey")))
      .withColumn("l_orderkey", lit(0L)).withColumn("l_linenumber", lit(1))
      .withColumn("l_quantity", lit(1.0))
      .withColumn("l_extendedprice", lit(1.0))
      .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
      .withColumn("l_returnflag", lit("N"))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.mode("overwrite").parquet(s"$liDir/lineitem.parquet")
    noop("q68 triangles 10x (10 disjoint co-supply graphs)", clear = false)(
      graft.operators.GraphQueries.q68Triangles(spark, liDir))

    val docDir = tempDir("graft_soak_docs")
    big.write.mode("overwrite").parquet(s"$docDir/documents.parquet")
    noop("q53 bigram-LM score 10x")(
      graft.llmops.LmOps.q53LmScore(spark, docDir))
    noop("q54 bloom decontaminate 10x", clear = false)(
      graft.llmops.Curation.qBloomDecontaminate(spark, docDir))
    // strata are 10× deeper, so the pair stage is ~100× (the quadratic
    // axis of all-pairs-within-stratum)
    noop("q41 tfidf pairs 10x (~12.6M pairs)")(
      graft.llmops.TextOps.qTfidfPairs(spark, docDir))
    // the corpus cost is one token-frequency scan; merges run on the
    // unchanged vocabulary, so 100 merges cost barely more than 10
    for (m <- Seq(10, 100))
      println("BPE merges: " + time(s"BPE train $m merges 10x")(
        graft.llmops.Bpe.train(big, nMerges = m))._1.size)
    time("KLL per-type sketches 10x (1M events)")(
      graft.llmops.Sketches.kllPerKey(
        spark.read.parquet(s"$evDir/events.parquet")
          .filter(col("value").isNotNull), "event_type", "value").collect())
    // each Lloyd pass is one distributed job; the codebook stays
    // k × dim, whatever the corpus size
    val bigE = copies(spark.read.parquet(s"$Sf01/embeddings.parquet"), 10)(
      (e, k) => e.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        col("embedding")))
    time("PQ train 10x (50k vecs, 3 iters)")(
      graft.llmops.Pq.train(bigE, "embedding", dim = 64, iters = 3))
  }

  /** Every doc gains 99 exact replicas (in-bucket candidate pairs grow
    * ~10⁴× over sf0.1), plus streaming throughput on a 1M-event /
    * 500k-doc file replay.
    */
  private def scale100x(): Unit = {
    val dir = tempDir("graft_scale100")
    val emb = spark.read.parquet(s"$Sf01/embeddings.parquet")
    copies(spark.read.parquet(s"$Sf01/documents.parquet"), 100)((d, k) =>
      d.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    copies(emb, 100)((e, k) =>
      e.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        col("embedding"), col("label")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    println(s"scale100 docs: ${docs.count()}, vecs: ${vecs.count()}")

    noop("q23 minhash near-dup 100x")(
      graft.llmops.Dedup.qNearDupMinhash(spark, dir))
    // the gate's 4 planes (16 buckets/table) are sized for 2k vectors:
    // at 200k occupancy² ≈ (12.5k)² per bucket → ~5e9 candidate rows
    // (sat >15 min). planesPer ≈ log₂(N/targetOccupancy): 14 planes →
    // 16k buckets/table, occupancy ≈ replica-group size
    noop("q28 embedding sign-LSH dedup 100x (14-plane buckets)")(
      graft.llmops.Dedup.embeddingDedup(vecs, nTables = 4, planesPer = 14,
        threshold = 0.3))
    noop("q33 dedup clusters (CC) 100x")(
      graft.llmops.Cluster.qDedupClusters(spark, dir))
    // ~2.1k seeds → cell occupancy ≈ 100, ~10M in-cell cosine pairs:
    // the knob that scales is the seed count, not a hash width
    noop("q85 semantic dedup 100x (0.9 threshold)")(
      graft.llmops.Dedup.semanticDedup(vecs, threshold = 0.9))
    // every band bucket holds ≥100 identical members (pairs ≈ replica²
    // per group); the md5-token raster derivation is the scan-bound part
    noop("q86 image dHash near-dup 100x")(
      graft.llmops.Multimodal.imageDHashPairs(
        docs.select(col("doc_id"),
            graft.llmops.Multimodal.tokenRaster(col("text")).as("px"),
            size(graft.expressions.WordShingles.shingles(col("text"), 1))
              .as("ntok"))
          .filter(col("ntok") > 0), "doc_id", "px", 18, 16, maxHamming = 10))
    // the only shuffle is the seed_id cell join
    noop("q90 semantic decontam 100x (180k train / 20k eval)")(
      graft.llmops.Curation.semanticDecontaminate(
        vecs.filter(col("vec_id") % 10 =!= 7),
        vecs.filter(col("vec_id") % 10 === 7), threshold = 0.3, nProbe = 2))
    // worst-case digest skew: each window partition holds a whole
    // replica group; the shuffle carries ~9.5M span rows once
    noop("q91 span dedup 100x (500k docs)")(
      graft.llmops.TextOps.spanDedup(docs, 3))
    // ingest: one 5k-doc replica against the index of the other 99
    val idx = time("span index build (495k landed docs)") {
      val i = graft.llmops.TextOps.spanIndex(
        docs.filter(col("doc_id") < 99000000L), 3).persist()
      i.count(); i
    }
    noop("span ingest (5k-doc batch vs landed index)")(
      graft.llmops.TextOps.spanDedupIncrement(
        docs.filter(col("doc_id") >= 99000000L), idx, 3)._1)
    // random 8-hex names: no replica shortcut, ~7.4M variant keys
    noop("q92 fuzzy join 100x (200k random names, ed<=2)")(
      graft.llmops.Linkage.fuzzyNamePairs(spark.range(200000L).select(
        substring(md5(col("id").cast("string")), 1, 8).as("name")),
        "name", maxDist = 2))
    time("z-order write sf0.1 lineitem (600k rows, 32 files)")(
      graft.operators.Layout.writeZOrdered(
        spark.read.parquet(s"$Sf01/lineitem.parquet"),
        Seq((col("l_partkey"), 19999L), (col("l_orderkey"), 599999L)),
        bits = 12, path = s"$dir/zorder_lineitem", numFiles = 32))

    // IVF-PQ: index build timed apart from the recurring probe
    locally {
      import graft.llmops.{Pq, Similarity}
      val e = vecs.withColumn("nrm", Similarity.norm(col("embedding")))
        .persist()
      val seeds = Similarity.ivfSeeds(e)
      val assign = time("ivf assign 100x (200k vecs)") {
        val a = Similarity.ivfAssign(e, seeds).persist(); a.count(); a
      }
      val (cb, _) = time("pq train 100x (3 iters)")(
        Pq.train(e, "embedding", dim = 64, iters = 3))
      val codes = time("pq encode 200k") {
        val c = Pq.encode(e, "embedding", cb).persist(); c.count(); c
      }
      val q = emb.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).map(_.toDouble).toArray
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
        .crossJoin(broadcast(seeds))
        .withColumn("cs", round(Similarity.cosineWithNorms(
          col("qe"), col("semb"), col("qn"), col("snrm")), 6))
        .orderBy(col("cs").desc, col("seed_id")).limit(2).select("seed_id")
      val hits = time("ivfPqSearch top-10 (2-cell probe)")(
        Pq.ivfPqSearch(e, "embedding", codes, assign, probe, q, cb)
          .collect())
      println(s"ivfPqSearch hits: ${hits.map(_.getLong(0)).mkString(",")}")
      spark.catalog.clearCache()
    }

    // 1M events through the incremental-rollup sink (exactly-once
    // per-batch partial overwrite)
    val evDir = tempDir("graft_scale100_events")
    copies(graft.operators.CoreQueries.events(spark, Sf01), 10)((e, k) =>
      e.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 10000L)).as("user_id"),
        col("event_type"), col("value")))
      .repartition(32).write.mode("overwrite").parquet(s"$evDir/events")
    drain("rollupMaintenanceSink", s"$evDir/events", s"$evDir/ckpt")(src =>
      graft.streaming.StreamOps.rollupMaintenanceSink(src, s"$evDir/partials"))
    println("rollup report rows: " + graft.streaming.StreamOps
      .readRollup(spark, s"$evDir/partials").collect().length)
    // the 500k-doc corpus through the minhash streaming dedup (bounded
    // signature state within the watermark) and the bounded-state
    // heavy-hitters sink
    val sdDir = tempDir("graft_scale100_docstream")
    docs.limit(1000000)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000L))
      .select("doc_id", "ts", "text").repartition(32)
      .write.mode("overwrite").parquet(s"$sdDir/docs")
    drain("nearDupStream", s"$sdDir/docs", s"$sdDir/ckpt")(src =>
      graft.streaming.StreamOps.nearDupStream(src, "ts")
        .writeStream.format("noop").outputMode("append"))
    drain("heavyHittersSink", s"$sdDir/docs", s"$sdDir/hh_ckpt")(src =>
      graft.streaming.StreamOps.heavyHittersSink(src, s"$sdDir/hh_state",
        k = 20))
    graft.streaming.StreamOps.readHeavyHitters(spark, s"$sdDir/hh_state", 5)
      .show(5, false)
  }

  /** q95 runs on 200k 20-token sets where consecutive twins share 14
    * tokens (J ≈ 0.538, 100k planted pairs) and non-twins share
    * nothing: the rare-token profile the prefix filter is built for. A
    * replica-heavy profile is deliberately not run through q95 raw —
    * its true-pair output is itself quadratic per group; production
    * stages exact dedup first. The positional-bound cut is expected
    * ~0% here (every prefix collision is a true twin); its 60% cut
    * shows on the real corpus (`q95`).
    */
  private def setsim100x(): Unit = {
    val twinSets = {
      val shared = transform(sequence(lit(0), lit(13)),
        i => substring(md5(concat(
          ((col("doc_id") / 2).cast("long") * 1000 + i).cast("string"),
          lit("s"))), 1, 12))
      val own = transform(sequence(lit(14), lit(19)),
        i => substring(md5(concat(
          (col("doc_id") * 1000 + i).cast("string"), lit("o"))), 1, 12))
      spark.range(200000L).select(col("id").as("doc_id"))
        .select(col("doc_id"), array_distinct(concat(shared, own)).as("sh"))
    }
    noop("q95 set-sim join 100x (200k sets, 20 toks, twins J=.54)")(
      graft.llmops.Dedup.setSimilarityJoin(twinSets, 0.5))
    val sorted = twinSets
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .localCheckpoint()
    candidateCut("q95 candidates 100x", sorted)
    spark.catalog.clearCache()

    // 50k docs × 10 replicas: every gram duplicated, worst-case island
    // volume
    noop("q105 duplicated spans 100x (500k docs, l=8)")(
      graft.llmops.TextOps.duplicatedSpans(copies(
        spark.read.parquet(s"$Sf01/documents.parquet")
          .select("doc_id", "text"), 10)((d, k) =>
        d.select((col("doc_id") + lit(k * 1000000L)).as("doc_id"),
          col("text"))), 8))
    // md5-random graph: some sinks, exercising the redistribution path
    noop("q96 pagerank 100x (500k nodes, ~5M edges, 3 iters)")(
      graft.operators.GraphQueries.pageRankInt(spark.range(5000000L).select(
        (conv(substring(md5(col("id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 500000L).as("src"),
        (conv(substring(md5(concat(col("id").cast("string"), lit("d"))),
          1, 6), 16, 10).cast("long") % 500000L).as("dst"))
        .filter(col("src") =!= col("dst")).distinct(), 3))
    val big = copies(spark.read.parquet(s"$Sf01/embeddings.parquet"), 100)(
      (e, k) => e.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        col("embedding"))).localCheckpoint()
    println(s"scale100 vecs: ${big.count()}")
    noop("q97 kmeans 100x (200k vecs, k=8, 3 iters)")(
      graft.llmops.Cluster.kmeansInt(big, k = 8, iters = 3))
    // q98: the one-off index build timed apart from the probe
    val withNrm = big
      .withColumn("nrm", graft.llmops.Similarity.norm(col("embedding")))
    val seeds = graft.llmops.Similarity.ivfSeeds(withNrm)
    val assign = time("q98 index build (ivfAssign 200k)") {
      val a = graft.llmops.Similarity.ivfAssign(withNrm, seeds).persist()
      a.count(); a
    }
    noop("q98 knn join probe 100x (2k queries, k=3, prebuilt index)")(
      graft.llmops.Similarity.knnJoinIndexed(assign, seeds,
        withNrm.filter(col("vec_id") % 100L === 7L), k = 3))
    // the replica corpus is maximally clustered: modulo seeds land
    // 100-deep in the same spots, Lloyd spreads over the density modes
    val tseeds = time("ivfSeedsKmeans train 100x (k=32, 2 iters)")(
      graft.llmops.Similarity.ivfSeedsKmeans(withNrm, nCells = 32,
        iters = 2))
    val counts = graft.llmops.Similarity.ivfAssign(withNrm, tseeds)
      .groupBy("seed_id").count().collect().map(_.getLong(1).toDouble)
    val mean = counts.sum / counts.length
    println(f"ivf occupancy CV 100x: trained ${math.sqrt(counts.map(c =>
      (c - mean) * (c - mean)).sum / counts.length) / mean}%.3f")
  }

  /** Candidate volume with and without the PPJoin positional bound. */
  private def candidateCut(label: String, sets: DataFrame): Unit = {
    val noPos = time(s"$label prefix-only")(graft.llmops.Dedup
      .setSimCandidates(sets, 0.5, positional = false).count())
    val withPos = time(s"$label +positional")(graft.llmops.Dedup
      .setSimCandidates(sets, 0.5, positional = true).count())
    println(f"$label: prefix-only $noPos, +positional $withPos " +
      f"(${100.0 * (noPos - withPos) / noPos}%.1f%% cut)")
  }

  /** Measured ~26 s per channel warm, ~21-23 s for the two-channel
    * fusion. With the static broadcast of the query terms the scoring
    * stage is a map-side probe, and the one-off postings build
    * dominates (~17 s of the 26); before that hint the planner
    * sort-merged and shuffled all 21.5M postings (74 s → 26 s). Even
    * the unpruned stopword fan-out (45M probe hits vs 800k) adds only
    * seconds; `maxDf` governs fan-out as query batches grow. rrfFuse
    * is rank arithmetic on ≤ 2·topN rows per query.
    */
  private def bm25x(): Unit = {
    import graft.llmops.Retrieval
    val corpus = rareCorpus()
    val queries = corpus.filter(col("did") % 5000 === 0)
      .select(col("did").as("qid"), col("text")).localCheckpoint()
    noop("q108 bm25 channel 100x, maxDf=1000 (rare postings only)")(
      Retrieval.bm25Channel(queries, corpus, topN = 20, maxDf = 1000L))
    noop("q108 bm25 channel 100x, UNPRUNED (stopword fan-out)")(
      Retrieval.bm25Channel(queries, corpus, topN = 20))
    // the 40 rare terms are essential; the stopwords' summed bound
    // sits far below the rank-k score, so the certificate holds and the
    // stopword-only fan-out is never scored — losslessly
    noop("q114 bm25 MaxScore 100x, essential=40")(
      Retrieval.bm25ProbeMaxScore(Retrieval.queryTerms(queries),
        Retrieval.postingsIndex(corpus).persist(), topN = 20,
        essential = 40))
    noop("q107 term+bm25 rrf fusion 100x (fusion cost itself)")(
      Retrieval.rrfFuse(Seq(
        "bm25" -> Retrieval.bm25Channel(queries, corpus, topN = 20,
          maxDf = 1000L).select("qid", "did", "rk"),
        "ovl" -> Retrieval.termChannel(queries, corpus, topN = 20,
          maxDf = 1000L)), topK = 10))
  }

  /** Build+materialize 2.7 s for 21.5M positions; phraseProbe 4.0 s /
    * proximityProbe 6.4 s per 100-query batch vs one-shot 2.6 / 4.9 s.
    * At this corpus shape a probe costs about one one-shot pass; the
    * split's wins are ingest (DocIndex.append never re-tokenizes
    * landed docs) and serving phrase + NEAR/w batches from one held,
    * tok-bucketed relation.
    */
  private def positionalx(): Unit = {
    import graft.llmops.Retrieval
    val corpus = rareCorpus()
    val qdocs = corpus.filter(col("did") % 5000 === 0)
    val phrases = leadPhrases(qdocs)
    val toks = graft.llmops.Dedup.tokens(col("text"))
    val pairs = qdocs.select(col("did").as("qid"),
        element_at(toks, 1).as("tok_a"), element_at(toks, 5).as("tok_b"))
      .localCheckpoint()
    // production writes the index bucketed by tok; persist stands in
    val positions = Retrieval.tokenPositions(corpus).persist()
    time("positional index build+materialize 100x (one-off)")(
      println(s"  ${positions.count()} position rows"))
    noop("phraseProbe 100 phrases over held index", clear = false)(
      Retrieval.phraseProbe(phrases, positions, topN = 10))
    noop("proximityProbe 100 pairs over held index, w=3", clear = false)(
      Retrieval.proximityProbe(pairs, positions, window = 3, topN = 10))
    noop("one-shot phraseSearch (re-tokenizes corpus)", clear = false)(
      Retrieval.phraseSearch(phrases, corpus, n = 2, topN = 10))
    noop("one-shot proximitySearch (re-tokenizes corpus)", clear = false)(
      Retrieval.proximitySearch(pairs, corpus, window = 3, topN = 10))
  }

  /** Gram build 33.6 s for 21M rows (one-off); gramProbe 13.2 s /
    * snippetProbe 12.4 s per batch vs one-shots 6.7 / 7.2 s — on a rare
    * vocabulary regenerating grams from compact strings beats scanning
    * the materialized index, so the split wins on ingest and dense
    * vocabularies. impactProbe 8.6 s vs the exact probe's 51.7 s (6×,
    * the arithmetic the quantization removes); booleanProbe 7.7 s;
    * indexDelete is lazy (its anti-join rides the next probe, 49.5 s).
    */
  private def gramImpactx(): Unit = {
    import graft.llmops.Retrieval
    val corpus = rareCorpus()
    val qdocs = corpus.filter(col("did") % 5000 === 0)
    val phrases = leadPhrases(qdocs)
    val grams = Retrieval.gramPositions(corpus, n = 2).persist()
    time("gram index build+materialize 100x (one-off)")(
      println(s"  ${grams.count()} gram-position rows"))
    noop("gramProbe 100 phrases over held index", clear = false)(
      Retrieval.gramProbe(phrases, grams, topN = 10))
    noop("snippetProbe 100 phrases over held index", clear = false)(
      Retrieval.snippetProbe(phrases, grams, corpus, n = 2, topN = 10,
        ctx = 3))
    noop("one-shot phraseSearch (re-shingles corpus)", clear = false)(
      Retrieval.phraseSearch(phrases, corpus, n = 2, topN = 10))
    noop("one-shot phraseSnippets (re-shingles corpus)", clear = false)(
      Retrieval.phraseSnippets(phrases, corpus, n = 2, topN = 10, ctx = 3))
    grams.unpersist()

    // postings and impacts held, so the two probes differ only in
    // probe arithmetic
    val queries = qdocs.select(col("did").as("qid"), col("text"))
    val postings = Retrieval.postingsIndex(corpus).persist()
    time("postings build+materialize 100x (one-off)")(
      println(s"  ${postings.count()} posting rows"))
    val impacts = Retrieval.impactIndex(postings).persist()
    time("impact quantization 100x (one-off, per epoch)")(
      println(s"  ${impacts.count()} impact rows"))
    val qTok = Retrieval.queryTerms(queries).localCheckpoint()
    noop("impactProbe 100 queries over held impacts", clear = false)(
      Retrieval.impactProbe(qTok, impacts, topN = 10))
    noop("bm25ProbeTerms 100 queries over held postings (exact)",
      clear = false)(Retrieval.bm25ProbeTerms(qTok, postings, topN = 10))
    val qd = qdocs.select(col("did").as("qid"), array_sort(array_distinct(
        graft.llmops.Dedup.tokens(col("text")))).as("dt"))
      .localCheckpoint()
    noop("booleanProbe 100 AND(2)+NOT(1) queries over held postings",
      clear = false)(Retrieval.booleanProbe(
        qd.select(col("qid"), explode(slice(col("dt"), 1, 2)).as("tok")),
        qd.select(col("qid"), element_at(col("dt"), size(col("dt")))
          .as("tok")), postings, topN = 10))
    val survivors = time("indexDelete 10% of 500k docs")(
      Retrieval.indexDelete(corpus.filter(col("did") % 10 === 3)
        .select("did"), postings).persist())
    noop("bm25Probe 100 queries over the delete-maintained index")(
      Retrieval.bm25ProbeTerms(qTok, survivors, topN = 10))
  }

  /** 5.8 s for the full pass over ≈21.5M token occurrences. Every
    * within-block rare bigram occurs exactly 200×, so the report is
    * full, lifts are positive, and stopword pairs (lift far below the
    * rare pairs') never reach the top-100 — asserted. Packing:
    * two-level 2.4 s vs naive 1.2 s, equal outputs; the naive single
    * task wins while 500k slim rows fit one task, so what this pins is
    * the equality.
    */
  private def collocx(): Unit = {
    val corpus = rareCorpus("doc_id")
    val top = time("collocations 100x (minCount=5, top-100)")(
      graft.llmops.TextOps.collocations(corpus, minCount = 5L, topK = 100)
        .collect())
    require(top.length == 100, s"expected a full report, got ${top.length}")
    require(top.forall(_.getLong(5) > 0L), "non-positive lift at volume")
    require(top.forall(r => r.getString(0).startsWith("t") &&
      r.getString(1).startsWith("t")), "a stopword pair leaked into the top-100")
    println(s"top pair: ${top.head.getString(0)} ${top.head.getString(1)} " +
      s"c_ab=${top.head.getLong(2)} lift_micro=${top.head.getLong(5)}")
    val packed = time("concatAndChunk 100x (two-level prefix sum)")(
      graft.llmops.TextOps.concatAndChunk(corpus, ctxLen = 2048)
        .select("doc_id", "start_tok").localCheckpoint())
    // the mirror's single-window shape: one task holds all 500k rows
    val naive = time("naive global-window cumsum (the mirror shape)") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      corpus.select(col("doc_id"), (size(graft.llmops.Dedup.tokens(
          col("text"))).cast("long") + lit(1L)).as("n_slot"))
        .select(col("doc_id"),
          coalesce(sum(col("n_slot")).over(w), lit(0L)).as("start_naive"))
        .localCheckpoint()
    }
    val mismatches = packed.join(naive, "doc_id")
      .filter(col("start_tok") =!= col("start_naive")).count()
    require(mismatches == 0L,
      s"two-level prefix sum diverged from naive on $mismatches docs")
    println("concatAndChunk two-level == naive on 500k docs")
  }

  /** Upsert is lazy like delete: probe over the upserted index 50.9 s vs
    * rebuild+probe 63.4 s (the rebuild re-tokenizes the untouched 90%).
    * bm25f build 8-16 s (one map stage, zero exchanges), probe 22-32 s.
    * Sharded probe 51.0 s vs single 47.8 s (~7% gather overhead once
    * the shared invariants are checkpointed; 86.5 s without). Tiered
    * serving 3.6 s vs 64.5 s exact (champion tier keeps 2.4M of 21.5M
    * impacts). minMaxFuse 1.4 s and rankedOverlap 0.8 s: run-sized.
    * mmrRerank k=10 over 4M sims 23.9 s, ~2.4 s per greedy round.
    */
  private def maintainx(): Unit = {
    import graft.llmops.Retrieval
    val corpus = rareCorpus()
    val queries = corpus.filter(col("did") % 5000 === 0)
      .select(col("did").as("qid"), col("text"))
    val qTok = Retrieval.queryTerms(queries).localCheckpoint()
    val postings = Retrieval.postingsIndex(corpus).persist()
    time("postings build+materialize 100x (one-off)")(
      println(s"  ${postings.count()} posting rows"))
    // 10% of docs arrive updated (one appended token)
    val updated = col("did") % 10 === 3
    val upserted = time("upsert 10% of 500k docs (lazy)")(
      Retrieval.DocIndex.Postings.upsert(corpus.filter(updated)
        .select(col("did"), concat(col("text"), lit(" upd")).as("text")),
        postings).persist())
    noop("bm25Probe 100 queries over the upsert-maintained index",
      clear = false)(Retrieval.bm25ProbeTerms(qTok, upserted, topN = 10))
    noop("full rebuild + probe (what upsert replaces)", clear = false)(
      Retrieval.bm25ProbeTerms(qTok, Retrieval.postingsIndex(
        corpus.select(col("did"), when(updated, concat(col("text"),
          lit(" upd"))).otherwise(col("text")).as("text"))), topN = 10))
    upserted.unpersist()

    val fielded = Retrieval.bm25fIndex(corpus, titleLen = 6).persist()
    time("bm25f fielded index build+materialize 100x (one-off)")(
      println(s"  ${fielded.count()} fielded rows"))
    noop("bm25fProbe 100 queries over held fielded index", clear = false)(
      Retrieval.bm25fProbe(queries, fielded, topN = 10))
    fielded.unpersist()

    val shards = (0L until 4L).map(s =>
      postings.filter(pmod(col("did"), lit(4L)) === s))
    noop("bm25ShardedProbe 100 queries over 4 shards", clear = false)(
      Retrieval.bm25ShardedProbe(queries, shards, topN = 10))
    noop("bm25ProbeTerms 100 queries, single relation (reference)",
      clear = false)(Retrieval.bm25ProbeTerms(qTok, postings, topN = 10))

    // keepTop bounds the probe to |q|·keepTop postings however skewed
    val impacts = Retrieval.impactIndex(postings).persist()
    time("impact quantization 100x (one-off, per epoch)")(
      println(s"  ${impacts.count()} impact rows"))
    val champ = Retrieval.prunedImpactIndex(impacts, keepTop = 24).persist()
    time("champion pruning keepTop=24 (one-off)")(
      println(s"  ${champ.count()} champion rows"))
    noop("tieredImpactProbe 100 queries (tier-1 + fallback broker)",
      clear = false)(Retrieval.tieredImpactProbe(qTok, impacts, champ,
        topN = 10))
    val runExact = Retrieval.impactProbe(qTok, impacts, topN = 20)
      .localCheckpoint()
    val runChamp = Retrieval.impactProbe(qTok, champ, topN = 20)
      .localCheckpoint()
    def scored(run: DataFrame) =
      run.select(col("qid"), col("did"), col("bm25_micro").as("score"))
    noop("minMaxFuse exact(3) + champion(2) runs", clear = false)(
      Retrieval.minMaxFuse(Seq(("exact", scored(runExact), 3L),
        ("champ", scored(runChamp), 2L)), topK = 10))
    noop("rankedOverlap(exact, champion) k=10", clear = false)(
      Retrieval.rankedOverlap(runExact.select("qid", "did", "rk"),
        runChamp.select("qid", "did", "rk"), k = 10))
    impacts.unpersist(); champ.unpersist()

    // MMR at 16× the gate's candidate pool: 100 queries × 200
    // candidates, 4M sim rows, k = 10 rounds
    val cand = spark.range(100L * 200L).toDF("i")
      .select((col("i") / 200).cast("long").as("qid"),
        pmod(col("i"), lit(200L)).as("did"),
        (conv(substring(md5(col("i").cast("string")), 1, 6), 16, 10)
          .cast("long") % 1000000L).as("rel_micro"))
      .localCheckpoint()
    val sims = cand.select(col("qid"), col("did").as("did_a"))
      .join(cand.select(col("qid").as("qid_b"), col("did").as("did_b")),
        col("qid") === col("qid_b") && col("did_a") =!= col("did_b"))
      .select(col("qid"), col("did_a"), col("did_b"),
        (conv(substring(md5(concat_ws("_", col("qid"),
          least(col("did_a"), col("did_b")),
          greatest(col("did_a"), col("did_b")))), 1, 6), 16, 10)
          .cast("long") % 1000000L).as("sim_micro"))
      .localCheckpoint()
    println(s"  mmr pool: ${cand.count()} candidates, ${sims.count()} sim rows")
    noop("mmrRerank k=10 over 100x candidate pool")(
      Retrieval.mmrRerank(cand, sims, k = 10))
  }

  /** Train 7.5-8.2 s (seed + 3 EM rounds + prune over the 100k-word
    * dict, 400 pieces), application 1.1-1.4 s: the corpus is paid once
    * (the word-dict aggregation) and every Viterbi stage is
    * dict-priced. The per-occurrence segmentStats it replaced measured
    * 21.3 s — 215× the DP work.
    */
  private def unigramx(): Unit = {
    val corpus = rareCorpus("doc_id")
    val (pieces, segs) = time(
      "unigram train 500k docs / 21.5M tokens (seed + 3 EM + prune)") {
      val r = graft.llmops.Unigram.train(corpus, vocabSize = 400,
        seedSize = 2000, emRounds = 3)
      println(s"  pieces: ${r._1.count()}, dict words segmented: " +
        s"${r._2.count()}")
      r
    }
    println("  multi-char pieces kept: " +
      pieces.filter(length(col("piece")) > 1).count())
    time("segmentStats application over all 500k docs")(
      println("  distinct applied pieces: " +
        graft.llmops.Unigram.segmentStats(corpus, pieces).count()))
    segs.write.format("noop").mode("overwrite").save()
  }

  /** Chunked 32/8 into ~1M passages, md5 16-dim embeddings for 10% of
    * docs (uncovered docs ride the term channel only). The audit (every
    * stage executes) 46.8 s, dominated by chunk + passage-index build
    * and the covered-subset vector channel; contexts then 9.4 s warm —
    * 300 contexts (100 queries × k = 3), 225 with a leading-bigram
    * snippet.
    */
  private def ragx(): Unit = {
    val docs = rareCorpus("doc_id")
    val queries = docs.filter(col("doc_id") % 5000 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val embOf = transform(sequence(lit(0), lit(15)),
      i => (conv(substring(md5(concat(col("vec_id").cast("string"),
        lit("d"), i)), 1, 4), 16, 10).cast("double") / 65535.0)
        .cast("float"))
    val vectors = spark.range(500000L).toDF("vec_id")
      .filter(col("vec_id") % 10 === 0 || col("vec_id") % 5000 === 0)
      .select(col("vec_id"), embOf.as("embedding"))
      .localCheckpoint()
    val rag = graft.llmops.RagPipeline.prepare(docs, queries, vectors,
      topC = 12, k = 3)
    val audit = time("RagPipeline audit (all stages execute)")(
      rag.audit.collect().map(r => s"${r.getString(0)}=${r.getLong(1)}"))
    println("  " + audit.mkString(", "))
    time("contexts action (warm index)")(
      println(s"  contexts=${rag.contexts.count()} with_snippets=" +
        rag.contexts.filter(col("snippet").isNotNull).count()))
  }

  /** dsirSelect 19.2 s (the tokenize+bucket+count pass over ~43M
    * n-grams dominates), WordPiece train 6.0 s (dict aggregation; the
    * 30-merge loop over the dict is sub-second), application 2.1 s: nothing
    * scales past the vocabulary/bucket bound, and both pay the corpus
    * once per pass.
    */
  private def dsirWordPiecex(): Unit = {
    val corpus = rareCorpus("doc_id")
    time("dsirSelect 500k docs / ~43M hashed features (B=4096, k=1000)") {
      val sel = graft.llmops.Curation.dsirSelect(corpus,
        pmod(col("doc_id"), lit(5)) === 0, k = 1000, buckets = 4096)
        .collect()
      println(s"  selected: ${sel.length}, top score ${sel.head.getLong(1)}")
    }
    val pieces = time("wordpiece train (30 merges over the ~100k-word dict)") {
      val (merges, ps, _) = graft.llmops.WordPiece.train(corpus, nMerges = 30)
      println(s"  merges: ${merges.take(5).map { case (a, b) => s"$a+$b" }
        .mkString(", ")}…; ${ps.length} pieces")
      ps
    }
    time("wordpiece segmentStats application over all 500k docs")(
      println("  distinct applied pieces: " +
        graft.llmops.WordPiece.segmentStats(corpus, pieces).count()))
  }

  /** Each copy rotates its text and negates a copy-dependent embedding
    * prefix, so copies are NOT near-dups of each other and candidate
    * pairs scale ~linearly: the fresh-content scale-up, unlike the
    * verbatim replicas of `Scale10`.
    */
  private def rotate10x(in: String): Unit = {
    val out = tempDir("sf1rot")
    copies(spark.read.parquet(s"$in/documents.parquet"), 10)((d, k) =>
      d.select((col("doc_id") + lit(k * 100000000L)).as("doc_id"),
        // tail + head: same token statistics, different shingles
        concat(expr(s"substring(text, ${k * 37 + 1})"), lit(" "),
          expr(s"substring(text, 1, ${k * 37})")).as("text"),
        col("lang"), col("source"), col("n_chars")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    copies(spark.read.parquet(s"$in/embeddings.parquet"), 10)((e, k) =>
      e.select((col("vec_id") + lit(k * 100000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> " +
          s"CASE WHEN i < ${k * 3} THEN -x ELSE x END)").as("embedding"),
        col("label")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    for ((dir, tag) <- Seq(in -> "base", out -> "rotated 10x")) {
      println("rows=" + time(s"q28 $tag")(
        graft.llmops.Dedup.qDedupEmbedding(spark, dir).count()))
      spark.catalog.clearCache()
      println("rows=" + time(s"q29 $tag")(
        graft.llmops.TextOps.qFingerprintWinnow(spark, dir).count()))
      spark.catalog.clearCache()
    }
  }

  /** A fact whose hot key owns half the rows, joined to a 100k-row
    * dimension with broadcast disabled (too large to broadcast at
    * production scale). AQE thresholds are lowered so the local data
    * trips the same skew-split path a 100 TB run trips at defaults.
    */
  private def skew(): Unit = {
    val nKeys = 100000L
    val fact = spark.range(5000000L).select(
      when(col("id") % 2 === 0, 0L)
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("key"),
      col("id").as("row_id"), (col("id") % 1000).cast("double").as("v"))
      .localCheckpoint() // every schedule reads the same data
    val dim = spark.range(nKeys).select(col("id").as("key"),
      (col("id") % 25).as("grp")).localCheckpoint()
    def agg(df: DataFrame): Long = df.groupBy("grp").agg(sum("v")).count()
    val salted = (f: Int) =>
      graft.operators.Skew.saltedJoin(fact, dim, "key", col("row_id"), f)
    val conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    time("plain shuffle join, AQE off")(agg(fact.join(dim, "key")))
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "8m")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    time("AQE skew-join split")(agg(fact.join(dim, "key")))
    conf.set("spark.sql.adaptive.enabled", "false")
    for (f <- Seq(8, 32)) time(s"salted join, factor $f")(agg(salted(f)))
    conf.set("spark.sql.adaptive.enabled", "true")
    def sums(df: DataFrame) =
      df.groupBy("grp").agg(sum("v").as("s")).orderBy("grp").collect()
    require(sums(fact.join(dim, "key")).sameElements(sums(salted(8))),
      "schedules disagree!")
    println("results identical across schedules")
  }

  /** Round-12 findings: q108 ≈ 2.7 s = postings build 1.4 s +
    * invariants 0.2 s + probe 1.1 s; the text scan is 0.07 s. The gate
    * corpus is one row group, so tokenization runs on one core —
    * `repartition(32)` makes the isolated build 6× faster, but inside
    * `Retrieval.docs` it made every full gate slower (family 46.4 →
    * 57.1 s): the text shuffle re-executes per plan branch. Reverted;
    * a real corpus scans as thousands of splits anyway.
    */
  private def q108(): Unit = {
    import graft.llmops.Retrieval
    val d = spark.read.parquet(s"$Sf01/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val queries = d.filter(isQuery).select(col("doc_id").as("qid"),
      col("text"))
    val corpus = d.filter(!isQuery).select(col("doc_id").as("did"),
      col("text"))
    def full(): Unit = Retrieval.qBm25(spark, Sf01)
      .write.format("noop").mode("overwrite").save()
    full() // warm JIT/codegen once
    spark.catalog.clearCache()
    for (i <- 1 to 2) {
      noop(s"rep$i text scan only", clear = false)(corpus)
      println("corpus partitions: " + corpus.rdd.getNumPartitions)
      noop(s"rep$i build nopersist", clear = false)(
        Retrieval.postingsIndex(corpus))
      noop(s"rep$i build nopersist repart32", clear = false)(
        Retrieval.postingsIndex(corpus.repartition(32)))
      val idx = Retrieval.postingsIndex(corpus).persist()
      time(s"rep$i build+materialize")(idx.count())
      val (df0, stats) = Retrieval.postingsInvariants(idx)
      time(s"rep$i invariants")(stats.count() + df0.count())
      noop(s"rep$i probe")(Retrieval.bm25Probe(queries, idx, 10))
      time(s"rep$i full q108")(full())
      spark.catalog.clearCache()
    }
  }

  /** q95's corpus shape at sf0.1 (trigram sets + planted 70%
    * truncations): the positional bound's candidate cut, then
    * bench-shaped repetitions of q95 and q97.
    */
  private def q95(): Unit = {
    val d0 = spark.read.parquet(s"$Sf01/documents.parquet")
    val trunc = d0.filter(col("doc_id") < 200)
      .select((col("doc_id") + lit(20000L)).as("doc_id"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), array_join(slice(col("toks"), lit(1),
        greatest(lit(1),
          ((size(col("toks")) * 7).cast("double") / 10).cast("int"))),
        " ").as("text"))
    candidateCut("q95 candidates sf0.1", d0.select(col("doc_id"),
        col("text")).unionByName(trunc)
      .select(col("doc_id"), array_sort(array_distinct(
        graft.llmops.TextOps.shingleHashes(graft.expressions.WordShingles
          .shingles(col("text"), 3)))).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .localCheckpoint())
    for (rep <- 1 to 3) noop(s"rep $rep qSetSimJoin full")(
      graft.llmops.Dedup.qSetSimJoin(spark, Sf01))
    for (rep <- 1 to 2) noop(s"rep $rep qKmeans full")(
      graft.llmops.Cluster.qKmeans(spark, Sf01))
  }

  /** q41's LSH-prefiltered path vs the exact all-pairs path on any sf
    * dir (the 10× recall check, where the spec fixtures don't reach):
    * PASS/FAIL on identical top-20s, then per true-top-25 pair the
    * number of band tables that collide under the shipped SignBands
    * kernel (≥1 ⇒ recalled; the min is the tuning's robustness
    * margin, recorded in Q41_MARGINS.md).
    */
  private def q41(dir: String): Unit = {
    import graft.llmops.TextOps
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // JIT/page-cache warm-up pass, then interleaved timed passes
    var lsh = rows(TextOps.qTfidfPairs(spark, dir))
    var exact = rows(TextOps.qTfidfPairsExact(spark, dir))
    for (i <- 1 to 2) {
      lsh = time(s"pass $i LSH")(rows(TextOps.qTfidfPairs(spark, dir)))
      exact = time(s"pass $i EXACT")(rows(TextOps.qTfidfPairsExact(spark, dir)))
    }
    println(if (lsh == exact) "PASS: identical top-20"
            else s"FAIL:\nlsh=$lsh\nexact=$exact")
    val margins = TextOps.q41CollisionMargins(spark, dir, 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    margins.foreach { case (a, b, c, m) =>
      println(f"margin: ($a%5d,$b%5d) cos=$c%.6f table_collisions=$m%d")
    }
    val ms = margins.map(_._4).sorted
    println(s"margin: min=${ms.head} median=${ms(ms.length / 2)} " +
      s"over top-${ms.length} at $dir")
  }
}

package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Stateful streaming operators driven through MemoryStream across
  * multiple micro-batches (real state store, real watermarks).
  */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("dedupStream drops cross-batch exact duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.dedupStream(
      in.toDF().toDF("doc_id", "ts", "text"), "ts")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
    q.processAllAvailable()
    // batch 2: one exact dup (same normalized text), one new
    in.addData((3L, ts(2), "ALPHA   beta"), (4L, ts(3), "epsilon"))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.sameElements(Array(1L, 2L, 4L)))
  }

  test("nearDupStream drops signature-colliding near-dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(
      in.toDF().toDF("doc_id", "ts", "text"), "ts")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    in.addData((1L, ts(0), base), (2L, ts(1), "completely different words"))
    q.processAllAvailable()
    // batch 2: doc 3 differs from doc 1 only by whitespace/case — the
    // shingle SET is identical, so all k min-hashes collide; doc 4 is new
    in.addData((3L, ts(2), base.toUpperCase.replace(" ", "   ")),
      (4L, ts(3), "yet another unrelated document"))
    q.processAllAvailable()
    val ids = spark.table("neardup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.sameElements(Array(1L, 2L, 4L)))
    // the dropped doc is a true near-dup of its survivor: jaccard == 1
    import graft.llmops.Dedup
    val sets = Seq((1L, base), (3L, base.toUpperCase))
      .toDF("doc_id", "text")
      .select(Dedup.jaccard(
        Dedup.shingles(lower(col("text"))),
        Dedup.shingles(lit(base))).as("j"))
      .collect().map(_.getDouble(0))
    assert(sets.forall(_ === 1.0))
  }

  test("hourlyEventStats windows by event time with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.hourlyEventStats(
      in.toDF().toDF("ts", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    in.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0),
      (ts(70), "view", 5.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the first windows
    in.addData((ts(600), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("hourly_out")
      .select("event_type", "n_events", "sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.contains(("view", 1L, 5.0)))
  }

  test("sessionizeStream merges gap-bounded sessions in the state store") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    // 10-minute gap so the fixture minutes map cleanly onto sessions
    val out = StreamOps.sessionizeStream(
      in.toDF().toDF("ts", "user_id", "value"), gap = "10 minutes",
      lateness = "5 minutes")
    val q = out.writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    // user 1: minutes 0, 5, 8 (one session); user 2: minute 0
    in.addData((ts(0), 1L, 1.0), (ts(5), 1L, 2.0), (ts(8), 1L, 3.0),
      (ts(0), 2L, 10.0))
    q.processAllAvailable()
    // user 1: minute 40 opens a NEW session (gap 32 min > 10);
    // minute 120 advances the watermark far enough to close everything
    in.addData((ts(40), 1L, 4.0))
    q.processAllAvailable()
    in.addData((ts(120), 3L, 0.0))
    q.processAllAvailable()
    val rows = spark.table("session_out")
      .select("user_id", "n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains((1L, 3L, 6.0)), rows) // merged 3-event session
    assert(rows.contains((1L, 1L, 4.0)), rows) // re-opened later session
    assert(rows.contains((2L, 1L, 10.0)), rows)
  }

  test("attributionStream joins purchases to in-horizon clicks across batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamOps.attributionStream(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"))
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    // batch 1: clicks only (state buffers them)
    clicks.addData((100L, 1L, ts(0)), (101L, 1L, ts(30)), (102L, 2L, ts(5)))
    q.processAllAvailable()
    // batch 2: purchases — user 1 at min 45 (both clicks in the 1h
    // horizon), user 2 at min 90 (its click at min 5 is 85 min stale)
    purchases.addData((200L, 1L, ts(45)), (201L, 2L, ts(90)))
    q.processAllAvailable()
    val rows = spark.table("attr_out")
      .select("purchase_id", "click_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    q.stop()
    assert(rows === Set(200L -> 100L, 200L -> 101L))
  }

  test("streaming curation pipeline: quality gate + dedup compose") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llmops.{Curation, TextOps}
    val in = MemoryStream[(Long, Timestamp, String)]
    // stateless quality/PII stages compose with the stateful dedup —
    // the full curation path on a live stream
    val curated = StreamOps.dedupStream(
      in.toDF().toDF("doc_id", "ts", "text")
        .withColumn("text", Curation.redactPii(col("text")))
        .filter(TextOps.tokenCount(col("text")) >= 3), "ts")
    val q = curated.writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    in.addData(
      (1L, ts(0), "the quick brown fox jumps"),
      (2L, ts(1), "short"), // dropped by the gate
      (3L, ts(2), "contact bob@example.com for info"))
    q.processAllAvailable()
    in.addData( // dup of 1 (same normalized text) + a new doc
      (4L, ts(3), "THE  quick   brown fox jumps"),
      (5L, ts(4), "entirely new content here"))
    q.processAllAvailable()
    val rows = spark.table("curated_out")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q.stop()
    assert(rows.keySet === Set(1L, 3L, 5L))
    assert(rows(3L) === "contact <EMAIL> for info") // scrubbed pre-dedup
  }

  test("windowedTermCounts + topKOfBatch: finalized windows rank exactly") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamOps.windowedTermCounts(
      in.toDF().toDF("ts", "text"), "ts",
      windowDur = "10 minutes", lateness = "5 minutes")
    val q = out.writeStream.format("memory").queryName("terms_out")
      .outputMode("append").start()
    // window [0,10): "alpha" x3, "beta" x2, "gamma" x1
    in.addData((ts(0), "alpha beta alpha"), (ts(4), "beta gamma alpha"))
    q.processAllAvailable()
    // advance event time past window-end + lateness so [0,10) finalizes
    in.addData((ts(21), "later words entirely"))
    q.processAllAvailable()
    // the watermark computed from that batch applies on the NEXT one —
    // a further batch flushes the finalized window downstream
    in.addData((ts(22), "flush trigger"))
    q.processAllAvailable()
    // windows align to epoch multiples of 10 min, not to ts(0): select
    // the earliest emitted window (the one covering ts(0)..ts(4))
    val w0 = spark.table("terms_out")
      .agg(min("window_start")).head().getTimestamp(0)
    val batch = spark.table("terms_out")
      .filter(col("window_start") === w0)
    val top2 = StreamOps.topKOfBatch(batch, k = 2)
      .select("term", "tf", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    q.stop()
    assert(top2.sortBy(_._3).toSeq === Seq(("alpha", 3L, 1), ("beta", 2L, 2)))
  }

  test("dedupStream state survives a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val (ckpt, outDir) = (s"$base/ckpt", s"$base/out")
    val in = MemoryStream[(Long, Timestamp, String)]
    // a FILE sink: the memory sink cannot recover from a checkpoint
    def start() = StreamOps.dedupStream(
        in.toDF().toDF("doc_id", "ts", "text"), "ts")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    in.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
    q1.processAllAvailable()
    q1.stop()
    // restart against the SAME checkpoint: the fingerprint state must
    // come back from the state store, so a replayed duplicate of doc 1
    // still drops even though this is a fresh query instance
    val q2 = start()
    in.addData((3L, ts(2), "ALPHA   beta"), (4L, ts(3), "epsilon"))
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
    assert(ids.sameElements(Array(1L, 2L, 4L)),
      s"got ${ids.mkString(",")}")
  }

  test("runningCounter keeps per-key totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val out = StreamOps.runningCounter(in.toDS())
      .toDF("objectId", "n_seen")
    val q = out.writeStream.format("memory").queryName("counter_out")
      .outputMode("append").start()
    in.addData("ZTFa", "ZTFa", "ZTFb")
    q.processAllAvailable()
    in.addData("ZTFa", "ZTFb", "ZTFc")
    q.processAllAvailable()
    val rows = spark.table("counter_out").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    assert(rows === Set(("ZTFa", 2L), ("ZTFb", 1L),
      ("ZTFa", 3L), ("ZTFb", 2L), ("ZTFc", 1L)))
  }

  test("heavyHittersSink: CMS + candidate state tracks exact top-k across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hh")
    try {
      val in = MemoryStream[String]
      val docs = in.toDF().toDF("text")
      val q = StreamOps.heavyHittersSink(docs, s"$dir/state", k = 3)
        .option("checkpointLocation", s"$dir/ckpt").start()
      // planted skew: "alpha" heavy in every batch, "beta" heavy only
      // in batch 2, "gamma" accumulates across batches; noise terms
      // are all distinct so they can never outrank the planted ones
      in.addData("alpha alpha alpha gamma n1 n2", "alpha gamma n3 n4")
      q.processAllAvailable()
      in.addData("beta beta beta beta alpha gamma n5", "beta beta n6 n7")
      q.processAllAvailable()
      in.addData("alpha alpha gamma gamma n8 n9")
      q.processAllAvailable()
      q.stop()
      // exact totals: alpha 7, beta 6, gamma 5, noise 1 each
      val top = StreamOps.readHeavyHitters(spark, s"$dir/state", k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(top.map(_._1).toSeq === Seq("alpha", "beta", "gamma"))
      // CMS contract: never undercounts; ε·N overcount is ≪ 1 here
      assert(top.toMap === Map("alpha" -> 7L, "beta" -> 6L, "gamma" -> 5L))
      // restart-safety: the report is a pure file read — a fresh reader
      // with no sink running sees the same state
      val again = StreamOps.readHeavyHitters(spark, s"$dir/state", k = 3)
        .collect().map(r => r.getString(0)).toSeq
      assert(again === Seq("alpha", "beta", "gamma"))
      // superseded state is pruned: only the last two batches' dirs
      // survive (a year-long stream must not accumulate per-batch dirs)
      for (tree <- Seq("sketch", "cand")) {
        val dirs = new java.io.File(s"$dir/state/$tree")
          .listFiles().map(_.getName).filter(_.startsWith("batch_id="))
        assert(dirs.length <= 2, s"$tree state not pruned: ${dirs.toSeq}")
      }
      // the documented exact-recovery escape hatch as an operator: one
      // batch pass over the full corpus must reproduce the exact
      // groupBy counts for the candidate terms (not the CMS estimates)
      import spark.implicits._
      val corpus = Seq(
        "alpha alpha alpha gamma n1 n2", "alpha gamma n3 n4",
        "beta beta beta beta alpha gamma n5", "beta beta n6 n7",
        "alpha alpha gamma gamma n8 n9").toDF("text")
      val recovered = StreamOps
        .recoverExactCounts(spark, s"$dir/state", corpus, k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(recovered.toSeq ===
        Seq(("alpha", 7L), ("beta", 6L), ("gamma", 5L)))
      // restarting against existing state with DIFFERENT sketch
      // parameters must fail with the explicit parameter message, not a
      // bare IncompatibleMergeException. Same source + checkpoint so the
      // batch counter CONTINUES (a fresh checkpoint would restart at
      // batch 0 and read no prior state at all).
      val q2 = StreamOps.heavyHittersSink(docs, s"$dir/state", k = 3,
        eps = 1e-3)
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData("alpha alpha n10")
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException]
        && c.getMessage.contains("eps=1.0E-4") // stored params named
        && c.getMessage.contains("eps=0.001")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("semanticDedupSink: stable quantizer, landed wins, replay-safe state") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup")
    try {
      val base = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(col("vec_id") < 40).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val in = MemoryStream[(Long, Array[Float])]
      val q = StreamOps.semanticDedupSink(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/state",
        threshold = 0.9)
        .option("checkpointLocation", s"$dir/ckpt").start()
      // batch 1: 20 base vectors (incl. the every-97th seed, vec 0)
      in.addData(base.take(20).toSeq)
      q.processAllAvailable()
      // batch 2: replicas of batch-1 vectors (drop vs landed), fresh
      // vectors, and an in-batch replica pair (min id wins)
      val fresh = base.drop(20).map { case (id, e) => (id + 100L, e) }
      val replicaOfLanded = base.take(5).map { case (id, e) =>
        (id + 200L, e) }
      val inBatchDup = fresh.take(3).map { case (id, e) => (id + 300L, e) }
      in.addData((fresh ++ replicaOfLanded ++ inBatchDup).toSeq)
      q.processAllAvailable()
      q.stop()
      val landed = StreamOps.readDeduped(spark, s"$dir/state")
        .select("vec_id").collect().map(_.getLong(0)).sorted
      val expect = (base.take(20).map(_._1) ++ fresh.map(_._1)).sorted
      assert(landed.toSeq === expect.toSeq,
        s"landed ${landed.toSeq}")
      // quantizer persisted once and stable
      assert(spark.read.parquet(s"$dir/state/seeds").count() === 1)
      // every landed row carries its cell and norm (read, never redone)
      val cols = spark.read.parquet(s"$dir/state/landed").columns.toSet
      assert(Set("vec_id", "embedding", "nrm").subsetOf(cols), cols)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("ivfIndexSink: multi-batch grown index == fresh full build; probes agree") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsink")
    try {
      import graft.llmops.Similarity
      val base = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val in = MemoryStream[(Long, Array[Float])]
      val q = StreamOps.ivfIndexSink(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/state")
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData(base.take(200).toSeq)   // trains + persists the quantizer
      q.processAllAvailable()
      in.addData(base.slice(200, 350).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(350).toSeq)
      q.processAllAvailable()
      q.stop()
      val (idx, seeds) = StreamOps.readIvfIndex(spark, s"$dir/state")
      // grown assignment row-identical to a fresh build under the
      // SAME persisted quantizer (the ivfAppend equivalence, streamed)
      val full = Similarity.ivfAssign(
        spark.createDataFrame(spark.sparkContext.parallelize(
            base.toSeq.map { case (id, e) =>
              org.apache.spark.sql.Row(id, e.toSeq) }),
          idx.select("vec_id", "embedding").schema)
          .withColumn("nrm", Similarity.norm(col("embedding"))), seeds)
      val got = idx.select("vec_id", "seed_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = full.select("vec_id", "seed_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === want)
      assert(got.size === base.length)
      // and a probe against the grown index == against the fresh build
      val queries = idx.filter(col("vec_id") % 53 === 0)
      val pGrown = Similarity.knnJoinIndexed(idx, seeds, queries, k = 3)
        .collect().map(_.toSeq).toSeq
      val pFull = Similarity.knnJoinIndexed(full, seeds, queries, k = 3)
        .collect().map(_.toSeq).toSeq
      assert(pGrown === pFull && pGrown.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("postingsIndexSink: grown index == fresh full build; bm25 probes agree") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_postsink")
    try {
      import graft.llmops.Retrieval
      val base = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.indexSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state",
        Retrieval.DocIndex.Postings)
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData(base.take(200).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(200).toSeq)
      q.processAllAvailable()
      q.stop()
      val grown = StreamOps.readIndex(spark, s"$dir/state",
        Retrieval.DocIndex.Postings)
      val full = Retrieval.postingsIndex(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select(col("doc_id").as("did"), col("text")))
      assert(grown.count() === full.count())
      val queries = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("text"))
      def run(idx: org.apache.spark.sql.DataFrame) =
        Retrieval.bm25Probe(queries, idx, topN = 5)
          .select("qid", "did", "bm25_micro", "rk")
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(run(grown) === run(full))
      assert(run(grown).nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("positionalIndexSink: grown index == fresh full build; phrase and proximity probes agree") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_possink")
    try {
      import graft.llmops.Retrieval
      val base = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.indexSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state",
        Retrieval.DocIndex.Positional)
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData(base.take(200).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(200).toSeq)
      q.processAllAvailable()
      q.stop()
      val grown = StreamOps.readIndex(spark, s"$dir/state",
        Retrieval.DocIndex.Positional)
      val full = Retrieval.tokenPositions(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .select(col("doc_id").as("did"), col("text")))
      assert(grown.count() === full.count())
      val d = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val phrases = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          element_at(graft.expressions.WordShingles
            .shingles(col("text"), 2), 1).as("phrase"))
      val toks = graft.llmops.Dedup.tokens(col("text"))
      val pairs = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          element_at(toks, 1).as("tok_a"),
          element_at(toks, size(toks)).as("tok_b"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val phGrown = rows(Retrieval.phraseProbe(phrases, grown, topN = 5))
      assert(phGrown === rows(Retrieval.phraseProbe(phrases, full, topN = 5)))
      assert(phGrown.nonEmpty)
      val pxGrown = rows(Retrieval.proximityProbe(pairs, grown,
        window = 3, topN = 5))
      assert(pxGrown === rows(Retrieval.proximityProbe(pairs, full,
        window = 3, topN = 5)))
      assert(pxGrown.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("gramIndexSink: grown index == fresh full build; count and snippet probes agree") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_gramsink")
    try {
      import graft.llmops.Retrieval
      val base = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.indexSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state",
        Retrieval.DocIndex.Gram(n = 2))
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData(base.take(200).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(200).toSeq)
      q.processAllAvailable()
      q.stop()
      val grown = StreamOps.readIndex(spark, s"$dir/state",
        Retrieval.DocIndex.Gram(n = 2))
      val all = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id").as("did"), col("text"))
      val full = Retrieval.gramPositions(all, n = 2)
      assert(grown.count() === full.count())
      val d = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val phrases = d.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"),
          element_at(graft.expressions.WordShingles
            .shingles(col("text"), 2), 1).as("phrase"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val cGrown = rows(Retrieval.gramProbe(phrases, grown, topN = 5))
      assert(cGrown === rows(Retrieval.gramProbe(phrases, full, topN = 5)))
      assert(cGrown.nonEmpty)
      val sGrown = rows(Retrieval.snippetProbe(phrases, grown, all,
        n = 2, topN = 5, ctx = 3))
      assert(sGrown === rows(Retrieval.snippetProbe(phrases, full, all,
        n = 2, topN = 5, ctx = 3)))
      assert(sGrown.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("fieldedIndexSink: grown index == fresh full build; bm25f probe agrees") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fieldsink")
    try {
      import graft.llmops.Retrieval
      val base = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.indexSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state",
        Retrieval.DocIndex.Fielded(titleLen = 6))
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData(base.take(200).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(200).toSeq)
      q.processAllAvailable()
      q.stop()
      val grown = StreamOps.readIndex(spark, s"$dir/state",
        Retrieval.DocIndex.Fielded(titleLen = 6))
      val all = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id").as("did"), col("text"))
      val full = Retrieval.bm25fIndex(all, titleLen = 6)
      assert(grown.count() === full.count())
      val queries = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("text"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val pGrown = rows(Retrieval.bm25fProbe(queries, grown, topN = 5))
      assert(pGrown === rows(Retrieval.bm25fProbe(queries, full, topN = 5)))
      assert(pGrown.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("spanDedupSink: landed spans win, in-batch first occurrence, index deltas accumulate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_spandedup")
    try {
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.spanDedupSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state", k = 3)
        .option("checkpointLocation", s"$dir/ckpt").start()
      in.addData((1L, "a b c d e f"), (2L, "a b c x y z"))
      q.processAllAvailable()
      // batch 2: "a b c"/"d e f"/"x y z" are landed; "q r s" fresh
      // twice in-batch (doc 10 wins); "t u" a fresh remainder
      in.addData((10L, "d e f q r s"), (11L, "q r s t u"))
      q.processAllAvailable()
      q.stop()
      val rep = StreamOps.readSpanReports(spark, s"$dir/state")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"))).toMap
      assert(rep(1L) === ((2L, 2L)))
      assert(rep(2L) === ((2L, 1L)))   // "a b c" dropped vs doc 1
      assert(rep(10L) === ((2L, 1L)))  // "d e f" landed; "q r s" kept
      assert(rep(11L) === ((2L, 1L)))  // "q r s" lost in-batch; "t u" kept
      // index = all distinct spans across both batches
      val idx = StreamOps.readSpanIndex(spark, s"$dir/state")
        .collect().map(_.getString(0)).sorted
      val whole = graft.llmops.TextOps.spanIndex(
        Seq((1L, "a b c d e f"), (2L, "a b c x y z"),
          (10L, "d e f q r s"), (11L, "q r s t u"))
          .toDF("doc_id", "text"), 3)
        .collect().map(_.getString(0)).sorted
      assert(idx.toSeq === whole.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("duplicatedSpansSink: landed grams flag shifted repeats; intra-batch pairs both report") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dupspans")
    try {
      val a = (0 until 20).map(i => s"a$i")
      val in = MemoryStream[(Long, String)]
      val q = StreamOps.duplicatedSpansSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/state", l = 4)
        .option("checkpointLocation", s"$dir/ckpt").start()
      // batch 1: doc 2 carries doc 1's run at a shifted offset —
      // intra-batch duplication, BOTH sides report (batch q105 rule)
      in.addData(
        1L -> a.mkString(" "),
        2L -> (Seq("z1", "z2", "z3") ++ a.slice(5, 17)).mkString(" "))
      q.processAllAvailable()
      // batch 2: doc 3 repeats one landed 4-gram (a8..a11) inside
      // fresh context; doc 4 is entirely fresh
      in.addData(
        3L -> (Seq("c1", "c2") ++ a.slice(8, 12)).mkString(" "),
        4L -> "f1 f2 f3 f4 f5 f6")
      q.processAllAvailable()
      q.stop()
      val rep = StreamOps.readSpanReports(spark, s"$dir/state")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("gram_start"),
          r.getAs[Long]("gram_end"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_dup_tokens"))).toSeq.sorted
      assert(rep === Seq(
        (1L, 5L, 13L, 9L, 12L),
        (2L, 3L, 11L, 9L, 12L),
        (3L, 2L, 2L, 1L, 4L)))
      // index = distinct grams of everything landed
      val idx = StreamOps.readGramIndex(spark, s"$dir/state").count()
      val allGrams = Seq(
          1L -> a.mkString(" "),
          2L -> (Seq("z1", "z2", "z3") ++ a.slice(5, 17)).mkString(" "),
          3L -> (Seq("c1", "c2") ++ a.slice(8, 12)).mkString(" "),
          4L -> "f1 f2 f3 f4 f5 f6")
        .toDF("doc_id", "text")
      import graft.expressions.WordShingles
      val nDistinct = allGrams.select(explode(
          graft.llmops.TextOps.shingleHashes(
            WordShingles.shingles(col("text"), 4))).as("h"))
        .distinct().count()
      assert(idx === nDistinct)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("rollupMaintenanceSink: stored partials reproduce the direct report") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup")
    try {
      val in = MemoryStream[(Long, Timestamp, String, Double)]
      val events = in.toDF()
        .toDF("event_id", "ts", "event_type", "value")
      val q = StreamOps.rollupMaintenanceSink(events, s"$dir/partials")
        .option("checkpointLocation", s"$dir/ckpt").start()
      // three micro-batches, one day spanning batches 1 and 2
      in.addData((1L, ts(0), "click", 10.0), (2L, ts(1), "view", 20.0))
      q.processAllAvailable()
      in.addData((3L, ts(2), "click", 30.0),
        (4L, ts(24 * 60 + 1), "click", 40.0))
      q.processAllAvailable()
      in.addData((5L, ts(24 * 60 + 2), "view", 50.0))
      q.processAllAvailable()
      q.stop()
      val report = StreamOps.readRollup(spark, s"$dir/partials")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getLong(5)))).toMap
      // direct aggregation over everything that streamed through
      assert(report("click") === ((3L, 80.0, 10.0, 40.0, 2L)))
      assert(report("view") === ((2L, 70.0, 20.0, 50.0, 2L)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

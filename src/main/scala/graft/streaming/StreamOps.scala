package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

import graft.llmops.{Retrieval, Similarity, TextOps}

/** Stateful Structured Streaming operators.
  *
  * The reference's filters are deliberately stateless (history rides
  * in-row — SURVEY §7.4.7), but the broker context and the
  * training-data mandate need three stateful shapes, built on Spark's
  * state store so they scale with the cluster and survive restarts via
  * checkpointing:
  *
  *  - cross-batch EXACT dedup of a document stream (watermark-bounded
  *    state, the streaming face of `Dedup.qDedupExact`);
  *  - watermarked event-time windowed aggregation (the streaming face
  *    of `CoreQueries.q9EventsJson`);
  *  - a per-object running counter (the anomaly-history counter shape,
  *    G9 — `filter_anomaly_notification/filter_utils.py:160-193`, which
  *    the reference keeps in an external store).
  */
object StreamOps {

  /** Drop documents whose normalized-text fingerprint was already seen,
    * across micro-batches. The watermark bounds the fingerprint state:
    * duplicates farther apart than `watermark` in event time may pass —
    * the standard trade between state size and dedup horizon at 100 TB.
    */
  def dedupStream(docs: DataFrame, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-duplicate dedup: drop documents whose MinHash
    * signature collides with one already seen inside the watermark
    * horizon. Signature equality is the high-threshold corner of
    * near-dup (k min-hashes all equal ⇒ Jaccard ≈ 1 with k-controlled
    * confidence), which is exactly the regime streaming ingest dedup
    * targets — the long-tail lower-similarity pairs stay a batch
    * concern ([[graft.llmops.Dedup.nearDupPairs]] + connected
    * components over the landed corpus).
    *
    * State shape at scale: one row per distinct signature inside the
    * watermark, keyed by the signature hash — the same bounded state
    * store as [[dedupStream]], and the signature is computed in a
    * stateless map stage (the native MinHashSignature kernel), so the
    * only stateful operator is the dedup itself.
    */
  def nearDupStream(docs: DataFrame, tsCol: String,
      watermark: String = "1 hour", k: Int = 16): DataFrame =
    docs
      .withColumn("__sig",
        concat_ws("|", graft.expressions.MinHashSignature.signature(
          array_distinct(
            graft.expressions.WordShingles.shingles(col("text"))), k)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** The file-state contract of every `foreachBatch` sink below.
    * `foreachBatch` is at-least-once: a crash between a batch's writes
    * and its checkpoint commit replays the batch. So micro-batch `id`
    * only ever OVERWRITES its own `<dir>/batch_id=<id>` whole
    * ([[BatchState.overwrite]]) and reads only state landed by earlier
    * batches ([[BatchState.landed]]): a replay rewrites the same rows
    * instead of appending a second copy, and reads what its first
    * attempt read. StreamReplaySpec replays a batch through it.
    */
  private def perBatch(df: DataFrame)(body: (DataFrame, BatchState) => Unit)
      : DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        body(batch, BatchState(batch.sparkSession, batchId))
    }

  private final case class BatchState(spark: SparkSession, id: Long) {
    def overwrite(w: DataFrameWriter[Row], dir: String): Unit =
      w.mode("overwrite").parquet(s"$dir/batch_id=$id")

    /** `dir`'s rows landed by batches below this one; None before the
      * first write (an existence probe, not read-and-catch: Spark logs
      * a missing path at ERROR before throwing). */
    def landed(dir: String): Option[DataFrame] = {
      val p = new Path(dir)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        None
      else Some(spark.read.parquet(p.toString).filter(col("batch_id") < id))
    }
  }

  /** Streaming SEMANTIC dedup over an embedding stream — the ingest
    * sink of [[graft.llmops.Dedup.semanticDedup]]: per micro-batch,
    * assign the batch's vectors against a FIXED coarse quantizer, drop
    * any vector with a qualifying (round-6 cosine ≥ threshold) landed
    * neighbor in the same cell or a smaller-id batch neighbor, and
    * append the survivors as parquet state partitioned by cell.
    *
    * Production semantics made explicit:
    *  - the quantizer is trained ONCE (every-97th vector of the first
    *    non-empty batch; falls back to its min-id vector when the id
    *    space carries no every-97th member) and persisted under
    *    `statePath/seeds` — cells must be stable across batches or
    *    landed state would need re-assignment;
    *  - landed vectors carry their stored seed_id, so a batch costs
    *    one broadcast-seeds assignment of the BATCH plus one cell-key
    *    equi-join probe of the landed state — landed embeddings are
    *    read but never re-assigned or shuffled;
    *  - state is per-batch-atomic parquet dirs ([[perBatch]]), so
    *    replays are idempotent.
    *
    * Read the deduplicated corpus back with [[readDeduped]].
    */
  def semanticDedupSink(vectors: DataFrame, statePath: String,
      threshold: Double = 0.9): DataStreamWriter[Row] =
    perBatch(vectors) { (batch, state) =>
      if (!batch.isEmpty) {
        val b = batch.select(col("vec_id"), col("embedding"))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        // ivfAssign returns (vec_id, embedding, nrm, seed_id)
        val ba = Similarity.ivfAssign(b, stableSeeds(b, statePath))
        def shape(df: DataFrame) = df.select(col("seed_id"),
          col("vec_id").as("oid"), col("embedding").as("e2"),
          col("nrm").as("n2"))
        def qualifying(side: DataFrame, pred: org.apache.spark.sql.Column) =
          ba.join(side, Seq("seed_id"))
            .filter(pred)
            .filter(round(Similarity.cosineWithNorms(col("embedding"),
              col("e2"), col("nrm"), col("n2")), 6) >= threshold)
            .select("vec_id").distinct()
        // nrm travels with the state: landed vectors are read, never
        // re-normalized or re-assigned
        val dropVsLanded = state.landed(s"$statePath/landed")
          .map(landed => qualifying(shape(landed), lit(true)))
          .getOrElse(batch.sparkSession.range(0)
            .select(col("id").as("vec_id")))
        val dropInBatch = qualifying(shape(ba),
          col("oid") < col("vec_id"))
        val survivors = ba
          .join(dropVsLanded.unionByName(dropInBatch).distinct(),
            Seq("vec_id"), "left_anti")
          .select("vec_id", "embedding", "nrm", "seed_id")
        state.overwrite(survivors.write.partitionBy("seed_id"),
          s"$statePath/landed")
      }
    }

  /** The deduplicated corpus accumulated by [[semanticDedupSink]]:
    * (vec_id, embedding, seed_id) — cell-partitioned survivors across
    * all landed batches.
    */
  def readDeduped(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/landed")
      .select(col("vec_id"), col("embedding"),
        // partition-dir inference narrows the type; restore long
        col("seed_id").cast("long").as("seed_id"))

  /** The stable-quantizer bootstrap shared by the vector-state sinks:
    * read `statePath/seeds` if present, else train from the first
    * non-empty batch (every-97th vector, min-id fallback) and persist.
    * Cells MUST be stable across batches — landed state is never
    * re-assigned.
    */
  private def stableSeeds(b: DataFrame, statePath: String): DataFrame = {
    val spark = b.sparkSession
    val hc = spark.sparkContext.hadoopConfiguration
    val seedsPath = new Path(s"$statePath/seeds")
    val fs = seedsPath.getFileSystem(hc)
    if (fs.exists(seedsPath)) spark.read.parquet(seedsPath.toString)
    else {
      val every = b.filter(pmod(col("vec_id"), lit(97)) === 0)
      val chosen =
        if (every.isEmpty) b.orderBy("vec_id").limit(1) else every
      chosen.select(col("vec_id").as("seed_id"),
          col("embedding").as("semb"), col("nrm").as("snrm"))
        .coalesce(1).write.mode("overwrite").parquet(seedsPath.toString)
      spark.read.parquet(seedsPath.toString)
    }
  }

  /** STREAMING IVF index maintenance — [[graft.llmops.Similarity
    * .ivfAppend]] as a sink: each micro-batch assigns ONLY its own
    * vectors under the persisted stable quantizer (one broadcast-seeds
    * map stage) and lands a per-batch-atomic parquet dir partitioned
    * by seed_id; landed assignment rows are never read, re-scored, or
    * re-shuffled — the index grows append-only, the retrieval-side
    * sibling of [[semanticDedupSink]]'s state shape (every vector
    * lands; no dedup).
    *
    * [[readIvfIndex]] hands the grown assignment + persisted seeds
    * straight to [[graft.llmops.Similarity.knnJoinIndexed]], so a
    * probe sees an incrementally-grown index indistinguishable from a
    * fresh [[graft.llmops.Similarity.ivfAssign]] build (StreamOpsSpec
    * pins the equivalence across a multi-batch replay).
    */
  def ivfIndexSink(vectors: DataFrame, statePath: String)
      : DataStreamWriter[Row] =
    perBatch(vectors) { (batch, state) =>
      if (!batch.isEmpty) {
        val b = batch.select(col("vec_id"), col("embedding"))
          .withColumn("nrm", Similarity.norm(col("embedding")))
        state.overwrite(Similarity.ivfAssign(b, stableSeeds(b, statePath))
          .write.partitionBy("seed_id"), s"$statePath/index")
      }
    }

  /** The grown IVF assignment and its quantizer, shaped for
    * [[graft.llmops.Similarity.knnJoinIndexed]]. */
  def readIvfIndex(spark: SparkSession,
      statePath: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$statePath/index")
       .select(col("vec_id"), col("embedding"), col("nrm"),
         col("seed_id").cast("long").as("seed_id")),
     spark.read.parquet(s"$statePath/seeds"))

  /** Streaming per-doc index maintenance — the streaming face of
    * [[graft.llmops.Retrieval.DocIndex.append]] for any index kind:
    * each micro-batch of (doc_id, text) indexes ONLY itself (the index
    * is per-doc independent, so no landed state is even read — the
    * cheapest ingest contract any sink here has) and lands under
    * `statePath/<index.dir>`. [[readIndex]] hands the grown index to
    * the kind's probes, whose invariants (df, length and field
    * averages) derive from the index and so self-correct as batches
    * land. StreamOpsSpec pins probe-equality with a fresh full build
    * for every kind; StreamReplaySpec pins it across a replayed batch.
    *
    * APPEND-ONLY / NO-REDELIVERY CONTRACT: each doc_id must arrive in
    * exactly one batch. A doc_id re-delivered (updated) in a LATER
    * batch lands in its own batch dir, so [[readIndex]] would return
    * duplicate did rows — silently inflating df and the length
    * averages at probe time. Point document updates at
    * [[graft.llmops.Retrieval.DocIndex.upsert]] over the read index
    * instead (the q130 path).
    */
  def indexSink(docs: DataFrame, statePath: String,
      index: Retrieval.DocIndex): DataStreamWriter[Row] =
    perBatch(docs) { (batch, state) =>
      if (!batch.isEmpty)
        state.overwrite(index.build(batch.select(col("doc_id").as("did"),
          col("text"))).write, s"$statePath/${index.dir}")
    }

  /** The index grown by [[indexSink]], shaped for the kind's probes. */
  def readIndex(spark: SparkSession, statePath: String,
      index: Retrieval.DocIndex): DataFrame =
    spark.read.parquet(s"$statePath/${index.dir}")
      .select(index.columns.map(col): _*)

  /** Streaming SPAN dedup — the streaming face of
    * [[graft.llmops.TextOps.spanDedupIncrement]] (the C4 shape as an
    * ingest sink): each micro-batch of (doc_id, text) is span-chunked,
    * spans whose digest is already in the landed index are dropped
    * (landed wins — temporal precedence), first-occurrence dedup runs
    * within the batch, and two per-batch-atomic parquet dirs land: the
    * per-doc cleaned report and the batch's NEW span digests (the
    * index delta), both replay-idempotent ([[perBatch]]). State never
    * re-chunks landed text — per-batch cost is the digest anti-join
    * plus the in-batch window.
    */
  def spanDedupSink(docs: DataFrame, statePath: String, k: Int = 3)
      : DataStreamWriter[Row] =
    perBatch(docs) { (batch, state) =>
      if (!batch.isEmpty) {
        val landedIdx = state.landed(s"$statePath/index")
          .map(_.select("span_md5"))
          .getOrElse(batch.sparkSession.range(0)
            .select(lit("").as("span_md5")))
        val (report, delta) =
          TextOps.spanDedupIncrement(batch, landedIdx, k)
        state.overwrite(report.write, s"$statePath/reports")
        state.overwrite(delta.write, s"$statePath/index")
      }
    }

  /** Per-doc reports accumulated under `<statePath>/reports`, with
    * `batch_id` as a long: the cleaned reports of [[spanDedupSink]]
    * (doc_id, n_spans, n_kept, clean_sig, n_chars_kept, batch_id) or the
    * duplicated-region reports of [[duplicatedSpansSink]].
    */
  def readSpanReports(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/reports")
      .withColumn("batch_id", col("batch_id").cast("long"))

  /** The landed span-digest index accumulated by [[spanDedupSink]]. */
  def readSpanIndex(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/index").select("span_md5")

  /** Streaming ARBITRARY-OFFSET duplicated-span detection — the
    * ingest face of [[graft.llmops.TextOps.duplicatedSpans]] (q105):
    * each micro-batch's stride-1 l-gram digests are checked against
    * the landed gram index plus the batch itself, maximal per-doc
    * regions land as the batch's report, and the batch's new digests
    * append to the index ([[perBatch]] state). The detection analog
    * of [[spanDedupSink]]'s removal: landed text is never re-chunked,
    * and an incoming near-copy is flagged at ANY offset.
    */
  def duplicatedSpansSink(docs: DataFrame, statePath: String, l: Int = 8)
      : DataStreamWriter[Row] =
    perBatch(docs) { (batch, state) =>
      if (!batch.isEmpty) {
        val landed = state.landed(s"$statePath/grams")
          .map(_.select("gram_md5"))
          .getOrElse(batch.sparkSession.range(0)
            .select(lit("").as("gram_md5")))
        val (report, delta) =
          TextOps.duplicatedSpansIncrement(batch, landed, l)
        state.overwrite(report.write, s"$statePath/reports")
        state.overwrite(delta.write, s"$statePath/grams")
      }
    }

  /** The landed gram-digest index accumulated by
    * [[duplicatedSpansSink]]. */
  def readGramIndex(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/grams").select("gram_md5")

  /** Hourly per-type counts/sums with late-data tolerance. */
  def hourlyEventStats(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization on a live stream — the streaming face of
    * `EventQueries.q38Sessionize`, via Spark's native `session_window`
    * (dynamic-gap session state in the state store, merged as events
    * arrive, emitted when the watermark passes the gap). Same
    * semantics, unbounded input: per (user, session) event counts,
    * bounds and value sum.
    */
  def sessionizeStream(events: DataFrame, gap: String = "6 hours",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream as-of-style attribution join: purchases matched to
    * clicks of the same user within a trailing `horizon` — the
    * streaming sibling of `EventQueries.q35AsofAttribution`. Both
    * sides are watermarked so Spark bounds the join state: click state
    * is evictable once the watermark passes `horizon`, purchase state
    * once its own event time passes. The time-range predicate is what
    * makes the state finite — an unconstrained stream-stream join
    * would buffer forever.
    *
    * Emits every (purchase, click) pair in the horizon; downstream
    * pick-latest (e.g. the q35 window on the micro-batch output, or a
    * max aggregation) selects the as-of winner. Inner join: purchases
    * with no prior click in the horizon simply don't emit.
    */
  def attributionStream(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    p.join(c, expr(
      s"""user_id = click_user AND
         |click_ts <= purchase_ts AND
         |click_ts >= purchase_ts - INTERVAL $horizon""".stripMargin))
      .drop("click_user")
  }

  /** Windowed term counts over a document stream — the streaming face
    * of `TextOps.qTopTerms` (heavy-hitters / trending-vocabulary
    * monitoring of an ingest feed). Tokenization is the stateless
    * native kernel; the only stateful operator is the watermarked
    * (window, term) count, whose state is one row per distinct term
    * per open window — vocabulary-bounded, not stream-bounded.
    *
    * Streaming cannot rank inside the aggregation (no window functions
    * over an unbounded stream), so this emits finalized per-window
    * counts in append mode; [[topKOfBatch]] is the foreachBatch ranking
    * step that turns each emitted window into its top-k (the standard
    * two-stage streaming top-k: distributed count, tiny rank).
    */
  def windowedTermCounts(docs: DataFrame, tsCol: String,
      windowDur: String = "1 hour", lateness: String = "10 minutes"): DataFrame =
    docs
      .select(col(tsCol),
        explode(graft.expressions.WordShingles.shingles(col("text"), 1))
          .as("term"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("window.start").as("window_start"), col("term"), col("tf"))

  /** Rank a [[windowedTermCounts]] micro-batch to per-window top-k —
    * runs inside `foreachBatch` on finalized windows (append mode means
    * each window arrives exactly once, so the rank is over that
    * window's complete vocabulary).
    */
  def topKOfBatch(batch: DataFrame, k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("tf").desc, col("term"))
    batch.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-key running appearance counter via flatMapGroupsWithState —
    * emits (key, total_so_far) every time the key appears in a batch.
    * (A production deployment bounds the state with a processing-time
    * timeout sized to the reference's 90-day anomaly horizon; the
    * operator itself is horizon-agnostic.)
    */
  def runningCounter(keyed: Dataset[String]): Dataset[(String, Long)] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator.single(key -> total)
      }
  }

  /** Streaming INCREMENTAL AGGREGATION MAINTENANCE — the streaming
    * face of `EventQueries.q70IncrementalRollup`: each micro-batch's
    * MERGEABLE partials (count/sum/min/max per (event_type, day))
    * append to a partial-aggregate parquet table inside
    * `foreachBatch`; [[readRollup]] re-aggregates the stored partials
    * into the current report. The corpus is never re-scanned — the
    * partial table is the state, it survives restarts (it is just
    * files), and compaction is optional (re-aggregation is
    * associative, so many small partial rows and few compacted ones
    * read identically).
    *
    * Restart safety: each batch's partials are one [[perBatch]]
    * directory, so a replay rewrites the same rows instead of appending
    * a double-counted second copy.
    */
  def rollupMaintenanceSink(events: DataFrame, partialsPath: String)
      : DataStreamWriter[Row] =
    perBatch(events) { (batch, state) =>
      state.overwrite(batch
        .filter(col("ts").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy("event_type", "d")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .write, partialsPath)
    }

  /** The current report from the stored partials: one re-aggregation
    * over (type, day, batch) partial rows — identical output contract
    * to `q70IncrementalRollup` (count/sum/min/max merge; n_days counts
    * distinct non-null days, because the same day may appear in many
    * batches' partials).
    */
  def readRollup(spark: SparkSession, partialsPath: String): DataFrame =
    spark.read.parquet(partialsPath)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).cast("double").as("total_value"),
        min(col("mn")).cast("double").as("min_value"),
        max(col("mx")).cast("double").as("max_value"),
        count_distinct(col("d")).as("n_days"))
      .orderBy("event_type")

  /** Streaming heavy hitters over a document stream with BOUNDED state:
    * a merged CountMinSketch (KB–MB, ε/confidence-sized — NEVER grows
    * with vocabulary) plus a `4k`-term candidate ring, maintained per
    * micro-batch as [[perBatch]] parquet state (restart-safe because
    * the state is files; replays are idempotent).
    *
    * Per batch: exact in-batch term counts (map-combined aggregation)
    * yield the batch's top-4k candidates; the batch CMS (fixed seed →
    * mergeable) merges into the stored sketch; previous ∪ batch
    * candidates re-score against the MERGED sketch and the best 4k
    * survive. Contracts: reported counts never undercount and overcount
    * ≤ ε·N with the configured confidence (CMS bound); candidate RECALL
    * requires a true heavy hitter to enter some batch's top-4k once —
    * a term heavy only in aggregate across many batches while never
    * batch-locally notable can be missed, the standard cost of bounded
    * streaming top-k (exact recovery at 100 TB = one batch pass routed
    * through the sketch, the q54 bloom pattern). This is the streaming
    * face of `Sketches.tokenCms` + q37's exact vocabulary top-k.
    */
  def heavyHittersSink(docs: DataFrame, statePath: String, k: Int = 20,
      eps: Double = 1e-4, confidence: Double = 0.99,
      textCol: String = "text")
      : DataStreamWriter[Row] = {
    val breadth = k * 4
    perBatch(docs) { (batch, state) =>
      val spark = state.spark
      import spark.implicits._
      // one tokenization pass feeds both the exact top-breadth
      // aggregation and the CMS build
      val toks = batch.select(explode(
        graft.expressions.WordShingles.shingles(col(textCol), 1)).as("t"))
        .persist()
      try {
        val batchTop = toks.groupBy("t").count()
          .orderBy(col("count").desc, col("t")).limit(breadth)
          .as[(String, Long)].collect().map(_._1)
        if (batchTop.nonEmpty) {
          val batchCms = toks.stat.countMinSketch("t", eps, confidence,
            CmsSeed)
          val prev = readHeavyState(state, statePath)
          // sketches only merge when built under identical parameters;
          // a restart with different eps/confidence against existing
          // state would otherwise surface as a bare
          // IncompatibleMergeException with no hint of the cause
          for ((_, _, _, Some((pe, pc))) <- prev
               if pe != eps || pc != confidence)
            throw new IllegalStateException(
              s"heavyHittersSink state at $statePath was built with " +
              s"eps=$pe confidence=$pc but this stream was started " +
              s"with eps=$eps confidence=$confidence; CountMinSketches " +
              "with different parameters cannot merge. Restart with " +
              "the original parameters or point at a fresh statePath.")
          val merged = prev match {
            case Some((_, prevCms, _, _)) => prevCms.mergeInPlace(batchCms)
            case None => batchCms
          }
          val prevCand =
            prev.map(_._3).getOrElse(Array.empty[String])
          val cand = (prevCand ++ batchTop).distinct
            .map(t => (t, merged.estimateCount(t)))
            .sortBy { case (t, e) => (-e, t) }
            .take(breadth)
          val bos = new java.io.ByteArrayOutputStream()
          merged.writeTo(bos)
          // the parameters travel WITH the sketch bytes so the
          // mismatch check above can name them on restart
          state.overwrite(Seq((bos.toByteArray, eps, confidence, CmsSeed))
            .toDF("sketch", "eps", "confidence", "seed").coalesce(1)
            .write, s"$statePath/sketch")
          state.overwrite(cand.toSeq.toDF("term", "est").coalesce(1)
            .write, s"$statePath/cand")
          // Older state is superseded — prune so a year-long stream
          // doesn't accumulate per-batch dirs. Prune strictly BELOW
          // the batch id actually READ this batch (NOT `state.id - 1`:
          // token-less batches write nothing, so the predecessor may
          // be several ids back — deleting it would strand a crash-
          // then-replay with no state and silently reset every
          // count). The read id itself always survives, so a replay
          // of THIS batch re-reads exactly what this attempt read.
          // The cand TREE (the index pick-latest consults) is fully
          // pruned before the sketch tree: a crash between the two
          // tree passes leaves orphan sketches — harmless, collected
          // next prune — never a cand entry whose sketch is gone.
          // (The invariant relied on is the per-TREE order of the
          // Seq below, not a per-id interleaving.)
          for (readId <- prev.map(_._1)) {
            val fs = new Path(statePath)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            for (tree <- Seq("cand", "sketch");
                 p = new Path(s"$statePath/$tree")
                 if fs.exists(p);
                 st <- fs.listStatus(p)) {
              val n = st.getPath.getName
              if (n.startsWith("batch_id=") &&
                  n.stripPrefix("batch_id=").toLong < readId)
                fs.delete(st.getPath, true)
            }
          }
        }
      } finally { toks.unpersist(); () }
    }
  }

  /** Fixed CMS hash seed — state files are only mergeable with
    * sketches built under the same seed, so it is a library constant,
    * not a parameter.
    */
  val CmsSeed = 42

  /** Latest persisted (batchId, sketch, candidates, stored params)
    * landed below `state`'s batch (a retried batch must not read its
    * own failed attempt's state). Params are None for state written by
    * pre-param-stamp versions of the sink (merge proceeds unchecked —
    * the legacy default was the library default).
    */
  private def readHeavyState(state: BatchState, statePath: String)
      : Option[(Long, org.apache.spark.util.sketch.CountMinSketch,
        Array[String], Option[(Double, Double)])] = {
    val spark = state.spark
    val candTree = state.landed(s"$statePath/cand") match {
      case Some(t) if !t.isEmpty => t
      case _ => return None
    }
    // partition-dir inference types batch_id as int; read it as long
    val latest = candTree.agg(max(col("batch_id").cast("long")))
      .head().getLong(0)
    val cand = candTree.filter(col("batch_id") === latest)
      .orderBy(desc("est"), asc("term"))
      .select("term").collect().map(_.getString(0))
    val sketchRow = spark.read
      .parquet(s"$statePath/sketch/batch_id=$latest").head()
    val bytes = sketchRow.getAs[Array[Byte]]("sketch")
    // params column exists only for state written by the param-stamping
    // sink version; legacy state merges unchecked
    val params =
      if (sketchRow.schema.fieldNames.contains("eps"))
        Some((sketchRow.getAs[Double]("eps"),
          sketchRow.getAs[Double]("confidence")))
      else None
    Some((latest, org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes)), cand, params))
  }

  /** The current top-k heavy hitters from the stored state: candidates
    * of the LATEST batch under (estimate desc, term) total order.
    * Callable out-of-band (including after restart); the candidate
    * rows are collected in ONE job so the window for racing a
    * concurrently-pruning sink is a single listing+scan — on the rare
    * loss of that race (or an attempt not yet committed by the
    * checkpoint becoming briefly visible) simply re-call: the state is
    * per-batch-atomic files, so any successfully read batch dir is
    * internally consistent.
    */
  def readHeavyHitters(spark: SparkSession,
      statePath: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    // bounded even on an unpruned legacy statePath: job 1 finds the
    // latest id (metadata-cheap agg), job 2 reads ONLY that dir (≤ 4k
    // rows). One retry covers the listing-to-scan race with a
    // concurrently pruning sink.
    def attempt(): Seq[(String, Long)] = {
      val latest = spark.read.parquet(s"$statePath/cand")
        .agg(max(col("batch_id").cast("long"))).head().getLong(0)
      spark.read.parquet(s"$statePath/cand/batch_id=$latest")
        .select(col("term"), col("est"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    // retry covers ONLY the listing/scan race with a concurrently
    // pruning sink (the dir read in job 2 deleted between the jobs, or
    // an uncommitted listing) — genuine failures (bad path, corrupt
    // parquet, permissions) propagate from the first attempt instead of
    // being masked by a second identical one
    val rows =
      try attempt()
      catch {
        case _: java.io.FileNotFoundException => attempt()
        case _: org.apache.spark.sql.AnalysisException => attempt()
        case e: org.apache.spark.SparkException
            if e.getCause.isInstanceOf[java.io.FileNotFoundException] =>
          attempt()
      }
    rows.sortBy { case (t, e) => (-e, t) }.take(k).toDF("term", "est")
  }

  /** EXACT counts for the heavy-hitter candidates — the documented
    * escape hatch of [[heavyHittersSink]]'s bounded-recall contract,
    * shipped as an operator: one batch pass over a corpus, counting
    * ONLY the ≤ 4·k candidate terms the state nominated (an
    * `isin`-style broadcast membership filter at scan speed — the q54
    * bloom-decontamination route with an exact, tiny membership set).
    * At 100 TB this is one map-combined aggregation whose key space is
    * the candidate ring, never the vocabulary; the corpus is scanned
    * once and nothing but (candidate, count) shuffles.
    *
    * Counts are exact over `corpus` — use it to replace the CMS
    * estimates (overcount ≤ ε·N) with true counts, or to audit recall
    * against a ground-truth batch. Returns (term, n) for every
    * candidate present in the corpus, ordered (n desc, term).
    */
  def recoverExactCounts(spark: SparkSession,
      statePath: String, corpus: DataFrame, k: Int = 20,
      textCol: String = "text"): DataFrame = {
    // full candidate ring (not just top-k): the ring is the recall
    // frontier, and a term's exact rank can differ from its CMS rank
    val cand = readHeavyHitters(spark, statePath, k = Int.MaxValue)
      .select("term")
    val toks = corpus.select(explode(
      graft.expressions.WordShingles.shingles(col(textCol), 1)).as("term"))
    toks.join(broadcast(cand), "term")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term"))
      .limit(k)
  }
}

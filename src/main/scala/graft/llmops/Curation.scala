package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: stratified
  * quota sampling, deterministic hash-based splits, and train/eval
  * decontamination. These are the three operations that turn a raw
  * corpus into a training set — and all three are pure DataFrame
  * algebra (window rank per stratum, a digest-derived split label, and
  * the same scalable explode/co-count overlap shape as the near-dup
  * verifies).
  */
object Curation {

  /** q30 — stratified quota sample: the top `quota` documents per
    * (lang, source) stratum by token count, deterministic tie-break on
    * doc_id. The balancing step of corpus assembly ("cap every
    * language×source cell"). One shuffle on the stratum key; the rank
    * window scales with the stratum, never the corpus; skewed strata
    * stop streaming rows past the quota in the per-partition sort.
    */
  def qQuotaSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang", "source")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    GateInputs.documents(spark, dir)
      .select(col("lang"), col("source"), col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("lang", "source", "rk")
  }

  /** Deterministic split label from the first md5 hex digit of the
    * document id: 16 buckets → 12 train / 2 val / 2 test. Stable across
    * engines and runs (no RNG state), reproducible by any SQL engine
    * with md5 — the property that matters for a split: membership is a
    * pure function of the id, so re-running assembly never migrates a
    * document between train and eval.
    */
  def splitLabel(docId: Column): Column = {
    val digit = substring(md5(docId.cast("string").cast("binary")), 1, 1)
    when(digit.isin("c", "d"), "val")
      .when(digit.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** q31 — split summary: per-split document/token totals and id range.
    * The assembly report of [[splitLabel]]; a map stage + a 3-group agg.
    */
  def qHashSplit(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(splitLabel(col("doc_id")).as("split"), col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("split")

  /** PII scrubbing: redact emails, phone-shaped numbers, and IPv4
    * addresses with typed placeholders — the text-hygiene pass every
    * training corpus runs before tokenization. Pure `regexp_replace`
    * chain (codegen'd, zero shuffle, scan-speed at 100 TB). ASCII-only
    * patterns; ordering matters — emails first so their user@host
    * digits aren't half-eaten by the phone pattern.
    *
    * The phone pattern is NANP-shaped (3-3-4 groupings with optional
    * country code) — international formats need per-locale patterns,
    * exactly as production scrubbers configure them.
    *
    * (Spec-tested on crafted strings rather than oracle-gated: the
    * synthetic corpus contains no PII, and regex dialects differ
    * between engines — this operator is Java-regex semantics.)
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "(?<![0-9])(?:\\+?[0-9]{1,3}[ .-]?)?(?:\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}(?![0-9])"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      phone, "<PHONE>")
  }

  /** Count of PII redactions [[redactPii]] performs on a document —
    * the audit metric (documents over a hit threshold get dropped by
    * policy instead of redacted). Counted as placeholders introduced,
    * so pre-existing literal placeholders in the text don't inflate it.
    */
  def piiHits(text: Column): Column =
    (regexp_count(redactPii(text), lit("<EMAIL>|<IP>|<PHONE>")) -
      regexp_count(text, lit("<EMAIL>|<IP>|<PHONE>"))).cast("long")

  /** Corpus sink: write the (curated) corpus partitioned by (lang,
    * split) with bounded file sizes — the layout downstream training
    * jobs read. `partitionBy` gives hive-style directory pruning on
    * the two columns every consumer filters on (language, train/eval);
    * `maxRecordsPerFile` bounds the largest file so a skewed (lang,
    * split) cell becomes many readable files, not one unsplittable
    * blob; the pre-write `repartition` on the partition columns
    * prevents the classic small-files explosion (without it, every
    * task writes a file into every partition directory —
    * tasks × cells files at 100 TB).
    */
  def writeCorpus(docs: DataFrame, path: String,
      maxRecordsPerFile: Long = 100000L): Unit =
    docs
      .withColumn("split", splitLabel(col("doc_id")))
      .repartition(col("lang"), col("split"))
      .write
      .partitionBy("lang", "split")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)

  /** Mixture weights per source — the data-mixing config of corpus
    * assembly (shared with the SQL-oracle generator, single source of
    * truth like TextOps.LangStopwords). Rates > 1 upsample (epochs),
    * rates < 1 downsample; unlisted sources get [[MixtureDefaultRate]].
    */
  val MixtureRates: Seq[(String, Double)] = Seq(
    "src0" -> 2.5, "src1" -> 1.5, "src2" -> 1.0, "src3" -> 0.5)
  val MixtureDefaultRate: Double = 0.25

  /** 24-bit md5 uniform in [0,1) from the id — the same digest currency
    * as [[splitLabel]]: a pure function of the id, so every sampling
    * decision is reproducible by any engine (and stable across reruns —
    * no RNG state, the property that keeps incremental corpus builds
    * consistent).
    */
  def hashUniform(docId: Column): Column =
    conv(substring(md5(docId.cast("string").cast("binary")), 1, 6), 16, 10)
      .cast("long").cast("double") / (1 << 24)

  def mixtureRate(source: Column): Column =
    MixtureRates.foldRight(lit(MixtureDefaultRate): Column) {
      case ((s, r), acc) => when(source === s, lit(r)).otherwise(acc)
    }

  /** Deterministic copies for a (source, id): ⌊rate⌋ guaranteed epochs
    * plus one more for ids whose hash-uniform falls under the
    * fractional part — rate 2.5 emits every doc twice and half the
    * docs (hash-chosen) a third time.
    */
  def mixtureCopies(source: Column, docId: Column): Column = {
    val rate = mixtureRate(source)
    floor(rate).cast("long") +
      when(hashUniform(docId) < rate - floor(rate), 1L).otherwise(0L)
  }

  /** Weighted mixture sampling/upsampling: one output row per emitted
    * copy, `epoch` 1..n. A pure map + explode stage — no shuffle; the
    * downstream writer ([[writeCorpus]]) re-buckets. This is the
    * data-mixing operator that turns per-source weights into an
    * assembled training corpus.
    */
  def sampleMixture(docs: DataFrame, idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame =
    docs
      .withColumn("__n", mixtureCopies(col(sourceCol), col(idCol)))
      .filter(col("__n") > 0)
      .withColumn("epoch", explode(sequence(lit(1L), col("__n"))))
      .drop("__n")

  /** Target-distribution mixture WEIGHTS (water-filling): given target
    * shares p_s over sources, compute the DOWN-sampling rates r_s ≤ 1
    * that make the retained token distribution exactly p while keeping
    * the most tokens — T = min_s(c_s / p_s) retained total,
    * r_s = p_s·T / c_s; the min-attaining source is the binding
    * constraint (rate 1, kept whole). The data-mixing COMPLEMENT of
    * [[sampleMixture]]: that applies configured rates, this computes
    * them from the corpus and a target. Targeted sources absent from
    * the corpus drive T to 0 (an unmeetable target reports itself
    * instead of silently re-normalizing).
    *
    * Scale shape: one token-count aggregation (map-side combined) +
    * a broadcast of the |target|-row relation and the single-row min —
    * the corpus is scanned once and never re-shuffled.
    */
  def mixtureWeights(d: DataFrame,
      target: Seq[(String, Double)]): DataFrame = {
    require(target.nonEmpty, "target must be non-empty")
    require(target.forall(_._2 > 0), "target shares must be positive")
    require(math.abs(target.map(_._2).sum - 1.0) < 1e-9,
      s"target shares must sum to 1, got ${target.map(_._2).sum}")
    val spark = d.sparkSession
    import spark.implicits._
    val tgt = target.toDF("source", "target_share")
    val counts = d.groupBy("source")
      .agg(sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
    val joined = broadcast(tgt).join(counts, Seq("source"), "left")
      .select(col("source"), col("target_share"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val bound = joined.agg(min(
      col("n_tokens").cast("double") / col("target_share")).as("t_total"))
    joined.crossJoin(broadcast(bound))
      .select(col("source"), col("n_tokens"),
        round(col("target_share"), 6).as("target_share"),
        round(when(col("n_tokens") > 0,
            col("target_share") * col("t_total") / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("rate"),
        round(col("target_share") * col("t_total"), 6)
          .as("retained_tokens"))
      .orderBy("source")
  }

  /** q104 — [[mixtureWeights]] under the gate: a skewed 3-source
    * target over the corpus; the mirror replays the same
    * count → min(c/p) → p·T/c arithmetic (doubles, same operation
    * order).
    */
  def qMixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeights(GateInputs.documents(spark, dir),
      Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))

  /** q57 — mixture-sampling summary: per source, the original and
    * sampled doc/token totals and the realized rate (which converges
    * to the configured rate as the source grows — the assembly audit
    * report). Copies are counted without materializing them (the
    * summary needs Σ n_copies, not the exploded rows).
    */
  def qMixtureSummary(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        mixtureCopies(col("source"), col("doc_id")).as("n_copies"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("n_sampled"),
        round(sum(col("n_copies")).cast("double") / count(lit(1)), 6)
          .as("effective_rate"),
        sum(col("n_copies") * col("n_tokens")).as("sampled_tokens"))
      .orderBy("source")

  /** Greedy sequence packing: group documents into packs of at most
    * `maxTokens` total (first-fit in `idCol` order WITHIN each
    * partition) — the batch-assembly step before training, where pack
    * fill ratio is the padding-waste metric. A document larger than
    * the budget gets a pack of its own (the caller's tokenizer
    * truncates it). Per-partition packing is the scale-correct choice:
    * a globally optimal packing serializes on one node, while
    * first-fit within partitions wastes at most one pack's tail per
    * partition and runs at scan speed. Returns (pack_id, id, tokens);
    * pack_id = partition << 32 | seq, unique across the corpus.
    * The OTHER packing discipline — concat-and-chunk, where documents
    * span sequence boundaries and placement is a global prefix sum —
    * is [[TextOps.concatAndChunk]] (q127): two different
    * training-batch contracts, deliberately two operators.
    */
  def packSequences(docs: DataFrame, maxTokens: Long,
      idCol: String = "doc_id", tokensCol: String = "n_tokens",
      decreasing: Boolean = false): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    import docs.sparkSession.implicits._
    // decreasing = first-fit-DECREASING within the partition: sorting
    // by size first is the classic bin-packing improvement (large docs
    // claim packs early, small docs fill the tails) — better fill at
    // the cost of losing the id-order locality of the default
    val ordered = docs
      .select(col(idCol).cast("long"), col(tokensCol).cast("long"),
        spark_partition_id().cast("long").as("__pid"))
    (if (decreasing)
      ordered.sortWithinPartitions(col(tokensCol).desc, col(idCol))
    else ordered.sortWithinPartitions(idCol))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var packSeq = -1L
        var used = 0L
        it.map { case (id, toks, pid) =>
          if (packSeq < 0 || used + toks > maxTokens) { packSeq += 1; used = 0L }
          used += toks
          ((pid << 32) | packSeq, id, toks)
        }
      }
      .toDF("pack_id", idCol, tokensCol)
  }

  /** q62 — relative-rank selection: keep each language's top quartile
    * by a quality proxy (BPE-token count per character — LOWER means
    * less fragmented, more natural text, so it ranks higher),
    * reporting per-language kept counts and the realized score
    * boundary. Threshold-free selection ("best X% per
    * stratum") is how mixed-quality corpora are cut when absolute
    * score thresholds don't transfer across languages; the operator
    * shape is a percent_rank window per stratum + filter — one
    * stratum-key shuffle, window state = the stratum.
    *
    * Determinism: percent_rank ties on (score, doc_id), so ranks are
    * unique; the ≤ 0.25 cut is exact in both engines.
    */
  def qQualitySelect(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("score"), col("doc_id"))
    GateInputs.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        round(TextOps.bpeTokenCount(col("text")).cast("double") /
          col("n_chars"), 6).as("score"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= 0.25)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        round(min(col("score")), 6).as("score_floor"),
        round(max(col("score")), 6).as("score_ceil"))
      .orderBy("lang")
  }

  /** Distributed bloom filter over a LONG key column, via Catalyst's
    * own `BloomFilterAggregate` — the machinery Spark's runtime
    * row-level filtering injects, driven here explicitly: partial
    * bloom buffers build on executors and MERGE (one blob per
    * partition crosses the wire, never the keys), and the final blob
    * comes back as a single binary row for literal embedding.
    */
  def buildBloomBytes(keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val br = org.apache.spark.sql.graftbridge.ExpressionBridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      br.expression(col(keyCol)),
      br.expression(lit(expectedItems)),
      br.expression(lit(numBits))).toAggregateExpression()
    keys.select(br.column(agg).as("bf")).head().getAs[Array[Byte]](0)
  }

  /** `might_contain` predicate against a serialized bloom blob
    * ([[buildBloomBytes]]) — codegen'd Catalyst expression, no UDF.
    */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val br = org.apache.spark.sql.graftbridge.ExpressionBridge
    br.column(BloomFilterMightContain(
      br.expression(lit(bloomBytes)), br.expression(key)))
  }

  /** Bloom-routed EXACT anti-join on a long key: rows whose key fails
    * the bloom are *definitely* not in `blockKeys` (no false negatives)
    * and bypass the join entirely; only the ~fpp false positives plus
    * the true matches reach the exact anti-join. Result is row-for-row
    * equal to a plain left_anti join — the bloom only routes.
    *
    * This is THE scale pattern for decontaminating a 100 TB batch
    * against a small blocklist: the full batch never shuffles (the
    * bloom predicate runs at scan speed in the map stage), and the
    * anti-join input shrinks from the corpus to fpp·corpus + matches.
    */
  def bloomAntiJoin(batch: DataFrame, keyCol: String,
      blockKeys: DataFrame, blockKeyCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = buildBloomBytes(
      blockKeys.select(col(blockKeyCol)), blockKeyCol, expectedItems, fpp)
    // an EMPTY blocklist serializes to a null bloom — nothing to drop
    if (bloom == null) return batch
    val pred = mightContain(bloom, col(keyCol))
    val clean = batch.filter(!pred)
    val suspects = batch.filter(pred)
      .join(blockKeys.select(col(blockKeyCol).as(keyCol)), Seq(keyCol),
        "left_anti")
    clean.unionByName(suspects)
  }

  /** q54 — bloom-routed exact-duplicate decontamination: a train
    * candidate batch (the train split plus verbatim copies of half the
    * eval docs under fresh ids — leaked eval text, the contamination
    * failure mode) is cleaned against the eval split's fingerprint set
    * via [[bloomAntiJoin]] on the 64-bit normalized-text fingerprint.
    * Survivors are exactly the true train docs. Complements q32: that
    * catches fuzzy (shingle-overlap) leaks with a corpus-sized
    * equi-join; this catches verbatim leaks with a map-stage bloom +
    * tiny residual anti-join.
    */
  def qBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        splitLabel(col("doc_id")).as("split"))
    val evalDocs = d.filter(col("split").isin("val", "test"))
    val batch = d.filter(col("split") === "train")
      .unionByName(evalDocs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 7000))
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val evalFps = evalDocs
      .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    // expectedItems is a sizing HINT (correctness is unaffected): the
    // eval split is ~4/16 of the corpus by construction of splitLabel
    bloomAntiJoin(batch, "fp", evalFps, "fp",
        expectedItems = 4096L, fpp = 0.01)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** q32 — decontamination: eval-split documents sharing ≥ `minOverlap`
    * distinct word shingles with any train-split document, with the
    * worst-offender overlap. THE pre-training hygiene query (eval
    * examples leaking into train).
    *
    * Shape: one shingle pass (native [[graft.expressions.WordShingles]]
    * kernel), explode the distinct 64-bit shingle hashes, equi-join
    * train×eval on the hash, count per (eval, train) pair, aggregate
    * per eval doc — non-overlapping pairs never materialize, and the
    * shuffle carries (doc_id, hash), never text (the q25 co-count
    * shape; at 100 TB this is the only formulation that works).
    */
  def qDecontaminate(spark: SparkSession, dir: String,
      minOverlap: Int = 5): DataFrame = {
    val d = GateInputs.documents(spark, dir)
      .select(col("doc_id"), splitLabel(col("doc_id")).as("split"),
        Dedup.hashedShingles(
          graft.expressions.WordShingles.shingles(col("text"))).as("shh"))
      .persist() // both sides of the overlap join
    def side(s: String, idCol: String) = d
      .filter(col("split") === (if (s == "eval") lit("val") else lit(s)))
      .select(col("doc_id").as(idCol), explode(col("shh")).as("h"))
    // "eval" = the val split (test stays untouched until final report)
    val ev = side("eval", "eval_doc_id")
    val tr = side("train", "train_doc_id")
    ev.join(tr, Seq("h"))
      .groupBy("eval_doc_id", "train_doc_id")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minOverlap)
      .groupBy("eval_doc_id")
      .agg(count(lit(1)).as("n_train_matches"),
        max(col("n_common")).as("max_overlap"))
      .orderBy("eval_doc_id")
  }

  /** SEMANTIC decontamination — the embedding-space member of the
    * decontamination trio (q32 = fuzzy shingle overlap, q54 = verbatim
    * bloom, this = paraphrase leakage that shares no shingles). The
    * shape is the q85 SemDeDup composition pointed ACROSS splits: a
    * coarse quantizer is trained on the TRAIN side only (the realistic
    * direction — eval sets arrive later and must not influence the
    * index), every train vector lands in its one nearest cell, and
    * each eval vector probes its `nProbe` nearest cells (eval is the
    * small side, so probing costs nProbe·|eval| assignments, not a
    * corpus re-shuffle). In-cell eval×train cosine ≥ `threshold` marks
    * the train vector contaminated.
    *
    * Scale shape: seeds broadcast to both assignments; the only
    * shuffle is the eval→train cell equi-join keyed on `seed_id`, and
    * train vectors never leave their cell. A pair can match in at
    * most one cell (the train side has exactly one), so no pair dedup
    * is needed. Recall contract is the SemDeDup one: a leak is found
    * iff the eval vector probes the train vector's cell — raising
    * `nProbe` buys recall linearly in eval-side cost only.
    *
    * Returns one row per contaminated TRAIN vector:
    * (vec_id, n_eval_hits, max_cos, first_eval_id).
    */
  def semanticDecontaminate(train: DataFrame, eval0: DataFrame,
      threshold: Double, nProbe: Int = 2): DataFrame = {
    val tr = train.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val ev = eval0.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val seeds = Similarity.ivfSeeds(tr)
    val trainCells = Similarity.ivfAssign(tr, seeds)
      .select(col("seed_id"), col("vec_id").as("train_id"),
        col("embedding").as("temb"), col("nrm").as("tnrm"))
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("seed_id"))
    val evalProbes = ev.crossJoin(broadcast(seeds))
      .withColumn("cs", Similarity.cs("embedding", "semb", "nrm", "snrm"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nProbe)
      .select(col("seed_id"), col("vec_id").as("eval_id"),
        col("embedding").as("eemb"), col("nrm").as("enrm"))
    trainCells.join(evalProbes, Seq("seed_id"))
      .select(col("train_id"), col("eval_id"),
        Similarity.cs("temb", "eemb", "tnrm", "enrm").as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("train_id").as("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max("cos_sim").as("max_cos"),
        min("eval_id").as("first_eval_id"))
      .orderBy("vec_id")
  }

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup): a weighted random
    * sample of k items per stratum with priority q = w/u, u a
    * per-item uniform — the scheme whose top-k-by-priority sample
    * supports unbiased subset-sum estimation. Two deliberate choices
    * make it engine-reproducible where the textbook version is not:
    * u comes from the md5 24-bit integer U as (U+1)/2^24 ∈ (0, 1]
    * (no RNG state — the [[hashUniform]] currency, so the decision is
    * a pure function of the id and every batch/backfill agrees), and
    * the priority is computed as ONE IEEE double division of exact
    * integers (w·2^24 and U+1 are both exact in a double) — division
    * is correctly rounded, so Spark and any external engine produce
    * the SAME bits, unlike ln/pow-based exponential-clock keys
    * (libm functions differ by 1 ulp across engines; the A-Res
    * u^(1/w) ordering is the same sample, the arithmetic is not
    * portable). Rank ties (same weight, same digest value) break by
    * id. One shuffle on the stratum key; the rank window truncates
    * per-stratum state at k (WindowGroupLimit).
    */
  def prioritySample(d: DataFrame, strataCols: Seq[String],
      weightCol: String, idCol: String, k: Int): DataFrame = {
    val u24 = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 6), 16, 10).cast("long")
    val priority = (col(weightCol).cast("double") * lit((1L << 24).toDouble))
      ./((u24 + lit(1L)).cast("double"))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("priority").desc, col(idCol))
    d.withColumn("priority", priority)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** q94 — [[prioritySample]] as a gate query: 10 documents per lang
    * weighted by token count. The mirror replays digest, division and
    * rank bit-for-bit.
    */
  def qPrioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySample(
      GateInputs.documents(spark, dir).select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens")),
      Seq("lang"), "n_tokens", "doc_id", k = 10)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_tokens"),
        col("priority"))
      .orderBy("lang", "rk")

  /** q90 — [[semanticDecontaminate]] as a gate query: eval split =
    * every vec_id ≡ 7 (mod 10) of the synthetic embeddings (~10%),
    * train = the rest, τ = 0.3, nProbe = 2. The DuckDB mirror replays
    * the train-side seed selection, both assignments and the in-cell
    * cosine bit-for-bit.
    */
  def qSemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = GateInputs.embeddings(spark, dir)
    semanticDecontaminate(
      e.filter(pmod(col("vec_id"), lit(10)) =!= 7),
      e.filter(pmod(col("vec_id"), lit(10)) === 7),
      threshold = 0.3, nProbe = 2)
  }

  /** Exact fixed-point log2 with 16 fraction bits: `log2Fix(n) =
    * e·2^16 + frac` where `e = floor(log2 n)` and `frac` comes from
    * the classic integer squaring recurrence — normalize the mantissa
    * to [2^30, 2^31) (left shift exact below 2^30, truncating right
    * shift above — deterministic either way), then 16 rounds of
    * `m ← (m·m) >> 30`, emitting a fraction bit and halving whenever
    * the square crosses 2^31. Every intermediate is a non-negative
    * Long < 2^62, and every operation (shift, floor-divide, compare)
    * has a bit-identical DuckDB BIGINT counterpart, so the kernel is
    * the determinism bridge that lets log-ratio scores gate
    * hash-exact — the piece the q126 lift trick (rank-equivalence
    * without `ln`) cannot supply when scores must be SUMMED across
    * features rather than merely ranked. Accuracy ~2^-16 relative
    * (plus ≤2^-30 normalization truncation), irrelevant for selection
    * and invisible to the gate: both engines run the same integer
    * recurrence. Domain n ≥ 1, raised loudly (smoothed counts are ≥ 1
    * by construction).
    */
  def log2Fix(n: Long): Long = {
    require(n >= 1L, s"log2Fix domain is n >= 1, got $n")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var m = if (e <= 30) n << (30 - e) else n >> (e - 30)
    var frac = 0L
    var i = 0
    while (i < 16) {
      val m2 = (m * m) >> 30
      if (m2 >= (1L << 31)) { frac = frac * 2 + 1; m = m2 >> 1 }
      else { frac = frac * 2; m = m2 }
      i += 1
    }
    (e.toLong << 16) + frac
  }

  /** Hashed feature bucket: first 24 md5 bits of the n-gram string,
    * mod `buckets` — the same digest currency as [[splitLabel]] /
    * [[hashUniform]], computable independently and identically by any
    * engine (DuckDB: `('0x' || substr(md5(f), 1, 6))::BIGINT %
    * buckets`). Hashing features instead of holding an n-gram
    * vocabulary is what makes the model size corpus-INDEPENDENT.
    */
  def dsirBucket(feature: Column, buckets: Int): Column =
    conv(substring(md5(feature.cast("binary")), 1, 6), 16, 10)
      .cast("long") % lit(buckets.toLong)

  /** Per-document hashed bag-of-ngrams: one row per (doc, bucket)
    * with the summed unigram+bigram occurrence count. Counting
    * contract (shared with q126 and replayed by the q140 mirror):
    * unigrams over EVERY document, bigrams only over documents with
    * ≥ 2 tokens (the WordShingles degenerate-shingle boundary). One
    * pass over the text — both shingle kernels and the per-doc
    * combine run inside the scan projection; the only shuffle carries
    * (id, bucket, count), never text.
    */
  def dsirDocBuckets(corpus: DataFrame, idCol: String, textCol: String,
      buckets: Int, passthrough: Seq[String] = Nil): DataFrame = {
    val sh1 = graft.expressions.WordShingles.shingles(col(textCol), 1)
    val sh2 = graft.expressions.WordShingles.shingles(col(textCol), 2)
    val keep = passthrough.map(col)
    corpus
      .select(col(idCol) +: keep :+ sh1.as("u") :+ sh2.as("g"): _*)
      .select(col(idCol) +: keep :+ explode(
        graft.expressions.ElementCounts.elementCounts(
          when(size(col("u")) >= 2, concat(col("u"), col("g")))
            .otherwise(col("u")))).as(Seq("f", "tf")): _*)
      .select(col(idCol) +: keep :+ dsirBucket(col("f"), buckets).as("b")
        :+ col("tf"): _*)
      .groupBy(col(idCol) +: keep :+ col("b"): _*)
      .agg(sum(col("tf")).as("cnt"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): pick from a raw pool the k documents that look
    * most like a target distribution, scored by a hashed-n-gram
    * importance weight. Bag-of-ngrams models are fit on both sides as
    * bucket counts (Laplace-smoothed), and each document scores
    *
    *   score(d) = Σ_b cnt_d[b] · (log2 p̂_target[b] − log2 p̂_raw[b])
    *
    * with every log taken by the integer [[log2Fix]] kernel, so the
    * score is an exact Long and the selection gates hash-exact (width
    * budget: |w_b| < 2^23 micro-log2 units, so any document below
    * 2^40 features — i.e. any document — stays in Long).
    *
    * `isTarget` marks the target slice of the pool (the usual DSIR
    * deployment scores a big raw crawl against a small trusted
    * corpus; a separate trusted table unions in with the flag set).
    *
    * Scale shape: ONE tokenization pass (the [[dsirDocBuckets]]
    * kernel), one (id, bucket)-slim shuffle; the two model fits are
    * bucket-bounded re-aggregations of that relation, and the weight
    * table — at most `buckets` rows regardless of corpus size — is
    * the bounded driver model (the PQ-codebook pattern): log-scored
    * in driver Scala, then BROADCAST back for the scoring join. The
    * report is a TakeOrderedAndProject, never a global sort. Nothing
    * driver-side or shuffle-side scales with the corpus; at 100 TB
    * the whole cost is the one tokenize+count pass.
    */
  def dsirSelect(corpus: DataFrame, isTarget: Column, k: Int,
      buckets: Int = 1024, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    // per-doc bucket counts feed three consumers (raw fit, target
    // fit, scoring join) — operator-internal multi-consumer, lazy
    // localCheckpoint per the materialization rule (Retrieval.scala
    // header); rows are (id, bucket, cnt, is_t), never text
    val db = dsirDocBuckets(
      corpus.withColumn("is_t", coalesce(isTarget, lit(false))),
      idCol, textCol, buckets, passthrough = Seq("is_t"))
      .localCheckpoint(false)
    val fit = db.groupBy("b").agg(
      sum("cnt").as("r"),
      sum(when(col("is_t"), col("cnt")).otherwise(lit(0L))).as("t"))
    // ≤ `buckets` rows by construction — the bounded driver model
    val rows = fit.collect()
    val rTot = rows.map(_.getLong(1)).sum
    val tTot = rows.map(_.getLong(2)).sum
    val cR = log2Fix(rTot + buckets)
    val cT = log2Fix(tTot + buckets)
    val wRows = rows.map { r =>
      (r.getLong(0),
        (log2Fix(r.getLong(2) + 1) - cT) - (log2Fix(r.getLong(1) + 1) - cR))
    }.toSeq
    import spark.implicits._
    val wt = wRows.toDF("b", "wb")
    db.join(broadcast(wt), "b")
      .groupBy(idCol)
      .agg(sum(col("cnt") * col("wb")).as("dsir_score"),
        sum("cnt").as("n_feat"))
      .orderBy(col("dsir_score").desc, col(idCol))
      .limit(k)
  }

  /** q140 — [[dsirSelect]] as a gate query: target = the English
    * slice of the documents pool, k = 200, B = 1024 buckets; the
    * report joins `lang` back (a broadcast of the 200 selected rows)
    * so the selection's target-enrichment is visible in the output.
    * The mirror replays bucketing, both fits and the [[log2Fix]]
    * recurrence (16 unrolled CTE rounds of the same integer ops)
    * bit-for-bit.
    */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = GateInputs.documents(spark, dir)
    val sel = dsirSelect(d, col("lang") === "en", k = 200)
    broadcast(sel).join(d.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_feat"),
        col("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
  }
}

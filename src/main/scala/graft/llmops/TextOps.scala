package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprints. All pure Catalyst expressions (whole-stage codegen) —
  * at 100 TB these run as a single map stage over the corpus with no
  * shuffle and full column pruning.
  */
object TextOps {

  /** Whitespace token count, oracle-mirrorable (no regex-dialect risk):
    * tokens = #spaces + 1 on a single-spaced corpus.
    */
  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** BPE-ish subword estimate: words + intra-word punctuation splits.
    * A cheap, deterministic stand-in for a real tokenizer count
    * (~chars/4 heuristic blended with word count).
    */
  def tokenEstimate(text: Column): Column =
    greatest(tokenCount(text), ceil(length(text) / 4).cast("long"))

  /** GPT-2-style pre-tokenizer count: letter runs, digit runs, and
    * single other non-space characters each count as one token — the
    * regex shape real BPE tokenizers split on before merges. ASCII
    * classes only, so the Java and RE2 dialects match exactly.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")

  /** Quality score components: length, mean word length, punctuation and
    * digit ratios, stopword hit-rate. Returns a struct; callers threshold.
    */
  def qualityStruct(text: Column): Column = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val nPunct = nChars - length(regexp_replace(text, "[.,;:!?]", ""))
    val nDigit = nChars - length(regexp_replace(text, "[0-9]", ""))
    val meanWordLen = round(
      (nChars - (nTokens - 1)).cast("double") / nTokens, 6)
    struct(
      nChars.cast("long").as("n_chars"),
      nTokens.as("n_tokens"),
      meanWordLen.as("mean_word_len"),
      round(nPunct.cast("double") / nChars, 6).as("punct_ratio"),
      round(nDigit.cast("double") / nChars, 6).as("digit_ratio"))
  }

  /** Space-doubled copy of the padded lowercase text: occurrences of
    * " word " can share their delimiting space in the original, so the
    * count runs on a copy where every space is doubled. Literal
    * `replace`, not regexp — this runs once per row and is the hot
    * input to every per-language score.
    */
  def doubledText(text: Column): Column =
    call_function("replace",
      concat(lit(" "), lower(text), lit(" ")), lit(" "), lit("  "))

  /** Stopword-count language scorer over a precomputed [[doubledText]]
    * column: number of occurrences of any of the given stopwords.
    * Counting via length-delta keeps it expressible in both Spark and
    * ANSI SQL, and literal replace keeps it out of the regex engine.
    */
  def stopwordHits(doubled: Column, words: Seq[String]): Column =
    words.map { w =>
      val token = s" $w "
      ((length(doubled) -
        length(call_function("replace", doubled, lit(token), lit("")))) /
        token.length).cast("long")
    }.reduce(_ + _)

  /** N-gram-heuristic language ID over a small stopword table.
    * Returns the argmax language code, "und" when nothing matches.
    * (The real-world analog is a fastText/CLD model; the *operator shape*
    * — per-row argmax over K language scores, no shuffle — is identical.)
    */
  /** Stopword table shared by the Column builder and the SQL-oracle
    * generator (SparkEntry) — single source of truth. Order matters:
    * earlier language wins score ties (fold semantics below).
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "de" -> Seq("der", "die", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "y", "es", "un"))

  /** Argmax over per-language score columns (earlier language wins
    * ties): max via `greatest`, label via a first-match when-chain on
    * score == max — LINEAR expression size in the language count. (The
    * previous struct-fold formulation duplicated the accumulated best
    * twice per level — exponential expression size that cost ~15 s of
    * codegen compilation once two argmaxes and a filter referenced it
    * in one stage, q61.) Pass ATTRIBUTES (materialized columns) as
    * scores: each score is still referenced twice.
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    require(scores.nonEmpty)
    val best =
      if (scores.size == 1) scores.head._2
      else greatest(scores.map(_._2): _*)
    val pick = scores.tail.foldLeft(
      when(scores.head._2 === best, lit(scores.head._1))) {
      case (acc, (langCode, s)) => acc.when(s === best, lit(langCode))
    }
    when(best > 0, pick).otherwise(lit("und"))
  }

  def langIdFromDoubled(doubled: Column): Column =
    langIdFromScores(
      LangStopwords.map { case (code, ws) => code -> stopwordHits(doubled, ws) })

  def langId(text: Column): Column = langIdFromDoubled(doubledText(text))

  /** 64-bit document fingerprint (xxhash of normalized text) — the cheap
    * exact-dup key. Normalization: lowercase + whitespace collapse.
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(text), "\\s+", " "))

  /** Winnowing fingerprints (the rolling-hash document-fingerprint
    * scheme of MOSS): slide a window of `w` consecutive shingle hashes
    * and keep each window's minimum; the distinct mins are the
    * document's fingerprint set. Guarantees any shared run of
    * w + shingle-size − 1 tokens contributes at least one common
    * fingerprint, while storing only ~2/(w+1) of the hashes.
    *
    * Hashes are md5 hex-16 prefixes (lexicographic min == numeric min,
    * and an external SQL oracle reproduces them exactly — same currency
    * as the MinHash signature). Pass a MATERIALIZED hash-array column:
    * the windowing lambda slices it per window, and a raw expression
    * here would recompute the whole hash array per element.
    */
  def winnowFingerprints(shingleHashes: Column, w: Int): Column = {
    val nWin = size(shingleHashes) - (w - 1)
    array_distinct(
      when(nWin > 0,
        transform(sequence(lit(0), nWin - 1),
          i => array_min(slice(shingleHashes, i + 1, lit(w)))))
        .otherwise(array(array_min(shingleHashes))))
  }

  /** md5 hex-16 hash per shingle (positional — winnowing is
    * order-sensitive, so no distinct here).
    */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => substring(md5(s), 1, 16))

  // ---- queries over the `documents` table ----
  // They read [[GateInputs.documents]] plain: the light text gates
  // tokenize once in a single branch — the spread's shuffle+cache-fill
  // was measured a net +0.35 s median tax on them (window-equal r13
  // A/B); the one heavy multi-branch consumer (qDuplicatedSpans)
  // spreads at its own call site.

  /** Per-document text statistics (flagship text-analysis query). */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        qualityStruct(col("text")).as("q"))
      .select(col("doc_id"), col("q.n_chars").as("n_chars"),
        col("q.n_tokens").as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        col("q.mean_word_len").as("mean_word_len"),
        col("q.punct_ratio").as("punct_ratio"),
        col("q.digit_ratio").as("digit_ratio"))
      .orderBy("doc_id")

  /** Corpus profile: per (lang, source) token/char totals — the
    * "how much data per language" pipeline report.
    */
  def qCorpusProfile(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(tokenCount(col("text"))).as("total_tokens"))
      .orderBy("lang", "source")

  /** Language-ID prediction histogram (deterministic heuristic). The
    * doubled-text column materializes once; the 4×5 per-language counts
    * reference it as an attribute (CollapseProject keeps the multi-use
    * non-cheap producer in its own project).
    */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val withDbl = GateInputs.documents(spark, dir)
      .withColumn("dbl", doubledText(col("text")))
    val withScores = LangStopwords.foldLeft(withDbl) { case (d, (code, ws)) =>
      d.withColumn(s"s_$code", stopwordHits(col("dbl"), ws))
    }
    withScores
      .withColumn("pred_lang", langIdFromScores(
        LangStopwords.map { case (code, _) => code -> col(s"s_$code") }))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("pred_lang")
  }

  /** q34 — Gopher/C4-style quality-rule gate: each document is tested
    * against an ordered rule list (token-count bounds, mean-word-length
    * band, digit-ratio cap, stopword presence) and labeled with the
    * FIRST failing rule, or "ok". This is the workhorse filter of
    * corpus curation (the Gopher rules, C4's heuristics): a pure map
    * stage — no shuffle, full column pruning, whole-stage codegen — so
    * at 100 TB it runs at scan speed.
    *
    * Thresholds are calibrated to this synthetic corpus so every
    * length/word-shape rule actually fires (the operator shape, an
    * ordered when-chain over cheap per-row stats, is what carries to a
    * real corpus; digit_heavy never fires here — ratio is 0 across the
    * corpus — but stays because dropping a rule that happens not to
    * fire on one corpus would change the operator).
    */
  /** Materialize the four per-doc quality statistics as columns
    * (n_tokens, mwl, digit_ratio, sw_hits) — each O(text) derivation
    * runs once even where the rule cascade references it twice.
    */
  def withQualityStats(d: DataFrame): DataFrame = d
    .withColumn("n_tokens", tokenCount(col("text")))
    .withColumn("mwl",
      (length(col("text")) - (col("n_tokens") - 1)).cast("double") /
        col("n_tokens"))
    .withColumn("digit_ratio",
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
        length(col("text")))
    .withColumn("sw_hits",
      stopwordHits(doubledText(col("text")),
        LangStopwords.toMap.apply("en")))

  /** The ordered Gopher/C4 rule cascade over [[withQualityStats]]
    * columns: the FIRST failing rule's label, or "ok". */
  def qualityReason(nTokens: Column, mwl: Column, digitRatio: Column,
      swHits: Column): Column =
    when(nTokens < 20, "too_short")
      .when(nTokens > 90, "too_long")
      .when(mwl < 4.0 || mwl > 5.0, "word_shape")
      .when(digitRatio > 0.2, "digit_heavy")
      .when(swHits === 0, "no_stopword")
      .otherwise("ok")

  def qQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = withQualityStats(GateInputs.documents(spark, dir))
    d.withColumn("reason", qualityReason(col("n_tokens"), col("mwl"),
        col("digit_ratio"), col("sw_hits")))
      .select(col("doc_id"), col("n_tokens"),
        (col("reason") === "ok").cast("int").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** q36 — repetition signal (the Gopher "top n-gram fraction"): the
    * share of a document's bigram occurrences taken by its single most
    * frequent bigram. High values flag boilerplate / TV-static text.
    *
    * Shape: one shingle pass (native [[graft.expressions.WordShingles]]
    * kernel with n=2, positional — repetition needs occurrence counts,
    * so no distinct) into the [[graft.expressions.ModeCount]] kernel —
    * a ZERO-EXCHANGE map stage (PlanSpec pins it). The relational
    * encoding (explode → two aggregations) shuffles a corpus-sized
    * (doc_id, bigram) stream for a statistic whose state never leaves
    * its row; the kernel counts in a per-row hashmap instead
    * (measured 0.98 s → map-stage floor at sf0.1).
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("doc_id"),
        graft.expressions.ModeCount.modeCount(
          graft.expressions.WordShingles.shingles(col("text"), 2)).as("mc"))
      .select(col("doc_id"),
        col("mc.n_items").as("n_bigrams"),
        col("mc.top_count").as("top_count"),
        round(col("mc.top_count").cast("double") / col("mc.n_items"), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")

  /** q37 — corpus heavy hitters: top-20 terms by document frequency
    * (ties broken by total term frequency, then term). The vocabulary
    * report every corpus build starts from.
    *
    * Shape: tokenize + per-doc counts in ONE map stage (the native
    * WordShingles and ElementCounts kernels), explode the count map,
    * then a single term-key aggregate (tf = sum of pre-combined
    * per-doc counts; df = row count, since the map emits one row per
    * (doc, term) — no count_distinct Expand), then a 20-row
    * TakeOrderedAndProject — no global sort. At 100 TB the term-key
    * shuffle is the only wide stage and carries (term, partial
    * counts); a skewed stopword term is still one reducer key whose
    * partials were already combined map-side.
    */
  def qTopTerms(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.expressions.ElementCounts.elementCounts(
          graft.expressions.WordShingles.shingles(col("text"), 1)))
          .as(Seq("term", "tf")))
      // one row per (doc, term): tf sums the pre-combined counts and
      // df is a plain count — no count_distinct Expand pass
      .groupBy("term")
      .agg(sum(col("tf")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("term"))
      .limit(20)

  /** Collocation mining — the vocabulary-induction pass a tokenizer
    * or phrase-table build runs over a corpus: adjacent token pairs
    * ranked by pointwise association. The score is LIFT,
    * p(ab) / (p(a)·p(b)) with p(ab) = c_ab/N_bi and p(x) = c_x/N_uni
    * — i.e. exp(PMI), so the RANKING is exactly PMI's (log is
    * monotone) while the arithmetic stays exact-integer counts, three
    * correctly-rounded double multiplies and one division — no `ln`,
    * which drifts by libm ulps between engines (the q108 rational-idf
    * lesson). Quantized to integer micro-units (floor(x·1e6 + 0.5),
    * the q108 contract), so q126 gates hash-exact.
    *
    * Counting contract (replayed by the mirror): unigrams over EVERY
    * document; bigrams over documents with ≥ 2 tokens (below that the
    * WordShingles kernel degenerates to a whole-text shingle, which is
    * not a pair). `minCount` floors c_ab — rare-pair PMI is noise, and
    * the floor is what bounds the report at corpus scale.
    *
    * Scale shape: both count relations come from the one-pass
    * WordShingles + ElementCounts map kernels with map-side combine —
    * the shuffles carry (key, partial count), vocab-/pair-bounded, the
    * q37 profile. The two component-token joins are plain equi-joins
    * of the pair relation (vocab²-bounded, minCount-floored) against
    * the vocab relation — NO broadcast hint on purpose: at 100 TB both
    * sides are vocabulary-scaled and AQE picks the build side; this is
    * a one-off corpus-analytics job, not a bounded-batch probe. The
    * report is a TakeOrderedAndProject, never a global sort.
    */
  def collocations(corpus: DataFrame, minCount: Long = 5L,
      topK: Int = 100): DataFrame = {
    // each count relation feeds several branches of one plan tree
    // (both component joins + its total) — operator-internal
    // multi-consumer, so localCheckpoint per the materialization rule
    // (Retrieval.scala header); each lands vocab-/pair-bounded rows,
    // never corpus rows
    val (uni0, bi00) = collocationCounts(corpus)
    collocationsFromCounts(uni0.localCheckpoint(),
      bi00.localCheckpoint(), minCount, topK)
  }

  /** The COUNT relations behind [[collocations]] — (unigrams (term,
    * c_term), bigrams (gram, c_ab)) — exposed as the build side of the
    * build/probe split for corpus stats: counts are ADDITIVE, so a
    * landed pair of count relations ingests a document batch with
    * [[mergeCounts]] (landed documents are never re-tokenized — the
    * DocIndex.append property for statistics), and any number of
    * (minCount, topK) reports re-score the held counts without
    * touching the corpus. Callers hold/persist these (the INDEX rule);
    * the one-shot [[collocations]] localCheckpoints them internally.
    */
  def collocationCounts(corpus: DataFrame): (DataFrame, DataFrame) = {
    val toks = Dedup.tokens(col("text"))
    val uni = corpus
      .select(explode(graft.expressions.ElementCounts.elementCounts(
        graft.expressions.WordShingles.shingles(col("text"), 1)))
        .as(Seq("term", "tf")))
      .groupBy("term").agg(sum(col("tf")).as("c_term"))
    val bi0 = corpus.filter(size(toks) >= 2)
      .select(explode(graft.expressions.ElementCounts.elementCounts(
        graft.expressions.WordShingles.shingles(col("text"), 2)))
        .as(Seq("gram", "tf")))
      .groupBy("gram").agg(sum(col("tf")).as("c_ab"))
    (uni, bi0)
  }

  /** Additive ingest of a count relation: counts(landed ∪ batch) ==
    * mergeCounts(counts(landed), counts(batch)) for any key — one
    * union + re-aggregate over two count-bounded relations, never the
    * corpus. Works for both collocation relations (key = term/gram,
    * cnt = c_term/c_ab) and any other additive count state.
    */
  def mergeCounts(a: DataFrame, b: DataFrame, keyCol: String,
      cntCol: String): DataFrame =
    a.unionByName(b).groupBy(keyCol)
      .agg(sum(col(cntCol)).as(cntCol))

  /** The scoring probe of the split: the [[collocations]] report from
    * HELD count relations. Exact same integers as the one-shot by
    * construction (the spec pins it, and the q126 gate covers the
    * composed path through [[collocations]]).
    */
  def collocationsFromCounts(uni: DataFrame, bi0: DataFrame,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    val bi = bi0.filter(col("c_ab") >= minCount)
    // totals are one slim aggregate each over the checkpointed count
    // relations (N_bi sums the PRE-floor pair counts — the floor
    // selects which pairs are reported, not what the corpus mass is),
    // broadcast as scalars
    val nUni = uni.agg(sum(col("c_term")).as("n_uni"))
    val nBi = bi0.agg(sum(col("c_ab")).as("n_bi"))
    // tokens contain no spaces by construction (tokenization splits on
    // the collapsed single space), so the bigram string splits back
    // into its component tokens losslessly
    val a = split_part(col("gram"), lit(" "), lit(1))
    val b = split_part(col("gram"), lit(" "), lit(2))
    // association order is the mirror contract — replayed literally by
    // the q126 oracle SQL
    val lift = ((col("c_ab").cast("double") * col("n_uni").cast("double"))
      * col("n_uni").cast("double")) /
      ((col("n_bi").cast("double") * col("c_a").cast("double"))
        * col("c_b").cast("double"))
    bi.select(a.as("tok_a"), b.as("tok_b"), col("c_ab"))
      .join(uni.select(col("term").as("tok_a"), col("c_term").as("c_a")),
        "tok_a")
      .join(uni.select(col("term").as("tok_b"), col("c_term").as("c_b")),
        "tok_b")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBi))
      .select(col("tok_a"), col("tok_b"), col("c_ab"), col("c_a"),
        col("c_b"),
        floor(lift * lit(1000000.0) + lit(0.5)).cast("long")
          .as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Concat-and-chunk sequence layout — the packed-causal-LM batch
    * discipline: documents are concatenated in doc_id order with
    * `sepTokens` separator slots between them, the stream is cut into
    * fixed `ctxLen`-token training sequences, and each document's
    * placement is reported as (start_tok, seq_id, seq_offset) —
    * documents may span sequence boundaries, exactly like the
    * GPT-style packing it models. The OTHER packing discipline,
    * doc-atomic greedy bin-packing for padding-based batches (no doc
    * ever spans a boundary, fill ratio is the waste metric), is
    * [[Curation.packSequences]] — two different training-batch
    * contracts, deliberately two operators. Every output here is an
    * exact integer (token counts and prefix sums), so q127 gates
    * hash-exact.
    *
    * Scale shape — the distributed prefix sum: the naive formulation
    * is ONE window over the global doc_id order, which Spark executes
    * as a single task holding the whole corpus (the classic
    * non-scalable cumsum). Instead: docs bucket by
    * floor(doc_id / bucketWidth) — order-preserving, since doc_id asc
    * implies (bkt, doc_id) asc — per-bucket slot sums aggregate in
    * parallel, the unpartitioned window runs over the BUCKET relation
    * only (bucketWidth× smaller than the corpus; size it so that
    * relation stays single-task-cheap), and the per-document cumsum
    * windows partition by bucket, fully parallel. The bucket-prefix
    * join is a plain equi-join on bkt (AQE broadcasts the prefix
    * relation when it is small). The spec pins two-level ≡ naive
    * single-window on a multi-bucket fixture.
    */
  def concatAndChunk(corpus: DataFrame, ctxLen: Int, sepTokens: Int = 1,
      bucketWidth: Long = 4096L): DataFrame = {
    require(ctxLen > 0 && sepTokens >= 0 && bucketWidth > 0,
      s"need ctxLen > 0, sepTokens >= 0, bucketWidth > 0; " +
        s"got $ctxLen/$sepTokens/$bucketWidth")
    val nToks = size(Dedup.tokens(col("text"))).cast("long")
    val counted = corpus.select(col("doc_id"),
      nToks.as("n_tokens"),
      (nToks + lit(sepTokens)).as("n_slot"),
      floor(col("doc_id").cast("double") / lit(bucketWidth.toDouble))
        .cast("long").as("bkt"))
    val wB = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktPrefix = counted.groupBy("bkt")
      .agg(sum(col("n_slot")).as("bkt_sum"))
      .withColumn("bkt_prefix",
        coalesce(sum(col("bkt_sum")).over(wB), lit(0L)))
      .select("bkt", "bkt_prefix")
    val wD = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val start = col("bkt_prefix") +
      coalesce(sum(col("n_slot")).over(wD), lit(0L))
    // exact integer div/mod (the q112 unpack idiom — no double
    // division on the prefix magnitudes a 100 TB corpus reaches)
    val ctx = lit(ctxLen.toLong)
    counted.join(bktPrefix, "bkt")
      .withColumn("start_tok", start)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        ((col("start_tok") - pmod(col("start_tok"), ctx)) / ctx)
          .cast("long").as("seq_id"),
        pmod(col("start_tok"), ctx).as("seq_offset"))
  }

  /** Ingest form of [[concatAndChunk]]: a batch whose doc_ids all come
    * AFTER the landed corpus's extends the concatenated stream, so
    * landed placements NEVER move — only the batch needs placing, at
    * the landed total-slot offset. `landed` is the landed PLACEMENT
    * REPORT (this operator's own output carries n_tokens, and a slot
    * is n_tokens + sepTokens, so the offset is one slim aggregate over
    * it — landed documents are never re-tokenized, the
    * [[Retrieval.DocIndex.append]] property in layout space). The
    * doc_id precondition is enforced ROW-LEVEL: an interleaved id
    * would silently shift every later landed document's placement, so
    * it fails loudly instead (the packPassageId precedent — the
    * offending value lives in the data, not in a parameter a driver
    * `require` could see). The spec pins append ≡ full rebuild and the
    * loud failure.
    */
  def concatAndChunkAppend(batch: DataFrame, landed: DataFrame,
      ctxLen: Int, sepTokens: Int = 1,
      bucketWidth: Long = 4096L): DataFrame = {
    val off = landed.agg(
      sum(col("n_tokens") + lit(sepTokens)).as("landed_slots"),
      max(col("doc_id")).as("landed_max"))
    val ctx = lit(ctxLen.toLong)
    val startCol =
      when(col("doc_id") <= col("landed_max"), raise_error(concat(
          lit("concatAndChunkAppend: batch doc_id "),
          col("doc_id").cast("string"),
          lit(" <= landed max doc_id "), col("landed_max").cast("string"),
          lit(" — an interleaved id would shift landed placements; " +
            "re-key the batch"))).cast("long"))
        .otherwise(col("start_tok") + coalesce(col("landed_slots"), lit(0L)))
    concatAndChunk(batch, ctxLen, sepTokens, bucketWidth)
      .crossJoin(broadcast(off))
      .withColumn("start_tok", startCol)
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        ((col("start_tok") - pmod(col("start_tok"), ctx)) / ctx)
          .cast("long").as("seq_id"),
        pmod(col("start_tok"), ctx).as("seq_offset"))
  }

  /** q127 — the packing report over the documents corpus: ctx = 512,
    * one separator slot, doc_id order. The mirror replays the prefix
    * sum as ONE global window cumsum — an independent formulation, so
    * the hash match certifies two-level ≡ naive.
    */
  def qSequencePacking(spark: SparkSession, dir: String): DataFrame =
    concatAndChunk(
      GateInputs.documents(spark, dir).select("doc_id", "text"),
      ctxLen = 512, sepTokens = 1)
      .orderBy("doc_id")

  /** Feistel round keys for [[epochShuffleKey]]: four 31-bit constants
    * derived from the epoch on the DRIVER (Weyl-step mixing of two
    * classic odd constants), so the per-row expression sees literals
    * and the DuckDB mirror is generated from the SAME Scala values —
    * the two engines never perform the key derivation independently.
    */
  def epochShuffleRoundKeys(epoch: Long): Seq[Long] = {
    require(epoch >= 0 && epoch < (1L << 31),
      s"epoch must be in [0, 2^31); got $epoch")
    (1 to 4).map(r => (epoch * 2654435761L + r * 1013904223L) % (1L << 31))
  }

  /** The epoch-keyed BIJECTIVE integer hash behind [[epochShuffle]]:
    * a 4-round Feistel network over 31-bit halves — bijective on
    * [0, 2^62) for ANY round function (each round (L,R) → (R, L⊕F(R))
    * is invertible by construction), so distinct ids can never collide
    * and the induced order is a true permutation. Every intermediate
    * stays below 2^61 + 2^31 (R·1103515245 < 2^61; xor/shift of 31-bit
    * values stay 31-bit), so Spark Long and DuckDB BIGINT compute
    * IDENTICAL values — no unsigned wrap to emulate, no overflow for
    * DuckDB to throw on. Ids outside [0, 2^62) fail loudly row-level
    * (the packPassageId precedent: the offending value lives in the
    * data).
    */
  def epochShuffleKey(id: Column, epoch: Long): Column = {
    val half = lit(1L << 31)
    val checked = when(id < 0L || id >= (1L << 62), raise_error(concat(
        lit("epochShuffleKey: id "), id.cast("string"),
        lit(" outside [0, 2^62) — the Feistel domain"))).cast("long"))
      .otherwise(id.cast("long"))
    var l: Column = ((checked - pmod(checked, half)) / half).cast("long")
    var r: Column = pmod(checked, half)
    for (k <- epochShuffleRoundKeys(epoch)) {
      val m = pmod(r * lit(1103515245L) + lit(k), half)
      val f = m.bitwiseXOR(shiftright(m, 15))
      val nr = l.bitwiseXOR(f)
      l = r
      r = nr
    }
    l * half + r
  }

  /** Global deterministic training-order shuffle — the dataloader
    * counterpart of [[concatAndChunk]]'s layout: epoch-keyed
    * pseudorandom permutation of packed sequences (or any integer-
    * keyed rows). Each row gets `shuffle_key` = [[epochShuffleKey]]
    * (injective per epoch, so the key order IS a permutation with no
    * tie-break needed) and the output is returned in key order.
    *
    * Scale shape: one map stage to key, ONE range exchange to sort —
    * zero driver state, no window over the global order, nothing
    * corpus-sized on any single task. Different epochs use different
    * round keys → decorrelated orders (spec-pinned: mean normalized
    * rank displacement between consecutive epochs on a 4096-id fixture
    * is within 10% of the n/3 random-permutation expectation);
    * the same epoch always replays the identical order (resumable
    * training — the property torn-down dataloader state can't give).
    */
  def epochShuffle(seqs: DataFrame, epoch: Long,
      idCol: String = "seq_id"): DataFrame =
    seqs.withColumn("shuffle_key", epochShuffleKey(col(idCol), epoch))
      .orderBy("shuffle_key")

  /** q137 — the training-order shuffle report: q127's packed sequences
    * (distinct seq_id) shuffled for epochs 1 and 2. The mirror replays
    * the Feistel rounds from the same driver-derived literal keys, so
    * both epochs' keys gate hash-exact; the two-epoch output makes the
    * decorrelation inspectable in the gate itself.
    */
  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val seqs = concatAndChunk(
        GateInputs.documents(spark, dir).select("doc_id", "text"),
        ctxLen = 512, sepTokens = 1)
      .select("seq_id").distinct()
    epochShuffle(seqs, epoch = 1L)
      .withColumn("shuffle_key_e2", epochShuffleKey(col("seq_id"), 2L))
      .select(col("seq_id"), col("shuffle_key").as("shuffle_key_e1"),
        col("shuffle_key_e2"))
      .orderBy("shuffle_key_e1")
  }

  /** q126 — the collocation report over the documents corpus:
    * pairs seen ≥ 5 times, top-100 by lift (desc, then pair). The
    * mirror rebuilds both count relations with the q115-family list
    * comprehension and replays the quantization literally.
    */
  def qCollocations(spark: SparkSession, dir: String): DataFrame =
    collocations(
      GateInputs.documents(spark, dir).select("doc_id", "text"),
      minCount = 5L, topK = 100)

  /** q74 — BPE merge-pair statistics: corpus-weighted adjacent
    * CHARACTER-pair frequencies over the token vocabulary — the
    * argmax of this table is the first merge a BPE tokenizer trainer
    * performs, and the full table is the tokenizer-prep profile
    * (joins q60's OOV rate and q37's vocabulary as the third
    * tokenizer-facing pass).
    *
    * Scale shape: pair counting runs on the VOCABULARY (distinct
    * tokens with their corpus frequencies — thousands of rows), not
    * the corpus: the token-frequency aggregation is the only
    * corpus-sized stage (same map-side-combined term shuffle as q37),
    * after which the character-level explode touches `|vocab| ×
    * avg_len` rows. Exactly how production BPE trainers structure the
    * count (word-frequency dict first, pair counts over the dict).
    * Single-char tokens carry no pair and are filtered before the
    * explode (also keeping `sequence(1, len-1)` away from its
    * descending len=1 edge case).
    */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val tf = GateInputs.documents(spark, dir)
      .select(explode(
        graft.expressions.WordShingles.shingles(col("text"), 1)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
    tf.filter(length(col("tok")) >= 2)
      .select(col("tf"),
        explode(expr(
          "transform(sequence(1, length(tok) - 1), " +
            "i -> substring(tok, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("tf")).as("weighted_n"), count(lit(1)).as("n_positions"))
      .orderBy(col("weighted_n").desc, col("pair"))
      .limit(30)
  }

  /** q41 — TF-IDF cosine similarity, top-20 most similar document pairs
    * within each (lang, source) stratum. The classic sparse-vector IR
    * operator in pure dataflow: no dense vectors ever materialize —
    * the "vector" is the (doc, term, weight) relation, the dot product
    * is an equi-join on the term + a grouped sum (the same co-count
    * shape as q25/q32: pairs sharing no term never exist), and the
    * stratum key bounds the pair space exactly like q25's blocking key.
    *
    * Cross-engine float determinism (the oracle contract): idf is
    * rounded to 6 decimals (ln() may differ by 1 ulp between libm and
    * DuckDB), weights are rounded then cast to DECIMAL(18,6), and
    * every sum (norms, dots) runs over exact decimals — so the final
    * doubles are bit-identical regardless of Spark's shuffle order vs
    * DuckDB's sequential order.
    */
  def qTfidfPairs(spark: SparkSession, dir: String): DataFrame =
    tfidfPairsImpl(spark, dir, lshPrefilter = true)

  /** Unprefiltered all-pairs variant — the recall reference the
    * TfidfLshSpec compares the production LSH path against (and the
    * semantics the DuckDB oracle mirrors exactly).
    */
  def qTfidfPairsExact(spark: SparkSession, dir: String): DataFrame =
    tfidfPairsImpl(spark, dir, lshPrefilter = false)

  /** Sign-LSH banding parameters for the q41 prefilter. Tuned on the
    * gate fixtures themselves (deterministic kernel → measured recall
    * transfers exactly): the synthetic corpus is near-WORST-case for
    * angular LSH — 31-term vocabulary, background pair cosine p50 =
    * 0.61 and p99 = 0.835 vs a top-20 floor of 0.829. Under the
    * round-7 one-mix-per-(term,table) kernel, 12 bits × 48 tables left
    * a true top-25 pair with ZERO table collisions at sf0.01 (the gate
    * passed only because that pair sat in ranks 21–25); 96 tables
    * restores a real margin — measured min per-true-pair table
    * collisions over the top-25: sf0.001 → 5, sf0.01 → 3, sf0.1 → 12
    * (artifact: Q41_MARGINS.md; pinned ≥ 2 by TfidfLshSpec). For the
    * floor pair (cos 0.829, per-table collision p ≈ 0.08) the miss
    * probability is (1−p)^96 ≈ 4·10⁻⁴ vs 2·10⁻² at 48. On a realistic
    * corpus (background cosine ≪ 0.5, vocabulary ≫ 10⁴) the pass rate
    * stays ≈ (1−θ/π)^12·96 ≲ 10⁻²  of background pairs — still the
    * asymptotic bound the all-pairs stage lacked; per-doc cost is 96
    * mixes per term, 8× below the pre-round-7 kernel (576).
    * Exact-duplicate pairs (the 10× replica profile's top ranks)
    * sketch identically → certain recall in every table.
    */
  private val TfidfLshBits = 12
  private val TfidfLshTables = 96

  /** Per-doc SORTED sparse TF-IDF vector: (term-hash, w·10⁶) long arrays
    * + the norm + the sign-LSH band sketch, one row per doc. The band
    * sketch is computed INSIDE this (persisted-by-callers) relation so
    * the SignBands kernel runs once per doc — not once per side of the
    * candidate self-join. The pair stage is then a stratum self-join
    * (each candidate pair materializes ONCE, carrying two
    * ~vocabulary-sized long arrays) with the native SparseDotMicros
    * merge kernel — versus the previous (pair, term) relational dot,
    * whose join+re-aggregation shuffled one row per SHARED TERM per
    * pair (~25× more rows here; measured 2.8 s → 1.1 s at sf0.1,
    * value-identical incl. the decimal→double rounding, which the
    * kernel reproduces exactly). The term-hash currency is the same
    * 2⁻⁶⁴ risk as the near-dup pipelines; Σ(va·vb) per pair must fit
    * i64 — micros ≤ 3e9 per weight at vocabulary 31 is 6 orders away.
    */
  private def q41DocVecs(spark: SparkSession, dir: String,
      withBands: Boolean = true): DataFrame = {
    val vecs = tfidfWeights(GateInputs.documents(spark, dir))
      .groupBy("lang", "source", "doc_id")
      .agg(
        array_sort(collect_list(struct(
          xxhash64(col("term")).as("k"),
          (col("w") * 1000000).cast("long").as("v")))).as("kv"),
        sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
      .select(col("lang"), col("source"), col("doc_id"),
        transform(col("kv"), e => e.getField("k")).as("ks"),
        transform(col("kv"), e => e.getField("v")).as("vs"),
        col("nrm"))
    // bands are skipped on the exact path (qTfidfPairsExact — the
    // recall REFERENCE must not pay the 96-table kernel it never reads)
    if (withBands)
      vecs.withColumn("bands", graft.expressions.SignBands.signBands(
        col("ks"), col("vs"), TfidfLshBits, TfidfLshTables))
    else vecs
  }

  private def tfidfPairsImpl(spark: SparkSession, dir: String,
      lshPrefilter: Boolean): DataFrame = {
    val docVecs = q41DocVecs(spark, dir, withBands = lshPrefilter)
      .persist() // band explode + both pair-join sides + rerank
    // Candidate pairs. LSH path (production, the q28 shape): explode
    // nTables band keys per doc, equi-join slim (id, band) rows on
    // (stratum, tbl, band) — NEVER the vectors — then distinct.
    // Candidate volume scales with collisions, not |stratum|²; the
    // exact path below is the all-pairs cross the prefilter bounds.
    val pairIds =
      if (lshPrefilter) {
        val keyed = docVecs
          .select(col("lang"), col("source"), col("doc_id"),
            posexplode(col("bands")).as(Seq("tbl", "band")))
        keyed.select(col("lang"), col("source"), col("tbl"), col("band"),
            col("doc_id").as("doc_a"))
          .join(keyed.select(col("lang"), col("source"), col("tbl"),
            col("band"), col("doc_id").as("doc_b")),
            Seq("lang", "source", "tbl", "band"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
      } else {
        docVecs.select(col("lang"), col("source"), col("doc_id").as("doc_a"))
          .join(docVecs.select(col("lang"), col("source"),
            col("doc_id").as("doc_b")), Seq("lang", "source"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
      }
    // Exact rerank: vectors rejoin candidates by id only.
    val dot = graft.expressions.SparseDotMicros
      .sparseDotMicros(col("ka"), col("va"), col("kb"), col("vb"))
    pairIds
      .join(docVecs.select(col("doc_id").as("doc_a"), col("ks").as("ka"),
        col("vs").as("va"), col("nrm").as("na")), Seq("doc_a"))
      .join(docVecs.select(col("doc_id").as("doc_b"), col("ks").as("kb"),
        col("vs").as("vb"), col("nrm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(dot / (col("na") * col("nb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Recall-margin diagnostic for the q41 LSH prefilter (run by
    * `graft.tools.Soak q41`, pinned by TfidfLshSpec): for each of the
    * exact top-`topN` pairs, in how many of the `TfidfLshTables` band
    * tables the two docs share a band ("table collisions"). A pair is
    * recalled iff collisions ≥ 1; the MIN over the true top pairs is
    * the robustness margin of the shipped (bits, tables) tuning —
    * measured against the exact all-pairs ranking, so it is an
    * end-to-end property of the production SignBands kernel, not a
    * probabilistic estimate.
    */
  def q41CollisionMargins(spark: SparkSession, dir: String,
      topN: Int = 25): DataFrame = {
    val docVecs = q41DocVecs(spark, dir).persist()
    val dot = graft.expressions.SparseDotMicros
      .sparseDotMicros(col("ka"), col("va"), col("kb"), col("vb"))
    docVecs.select(col("lang"), col("source"), col("doc_id").as("doc_a"))
      .join(docVecs.select(col("lang"), col("source"),
        col("doc_id").as("doc_b")), Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .join(docVecs.select(col("doc_id").as("doc_a"), col("ks").as("ka"),
        col("vs").as("va"), col("nrm").as("na"), col("bands").as("ba")),
        Seq("doc_a"))
      .join(docVecs.select(col("doc_id").as("doc_b"), col("ks").as("kb"),
        col("vs").as("vb"), col("nrm").as("nb"), col("bands").as("bb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(dot / (col("na") * col("nb")), 6).as("cos_sim"),
        size(filter(zip_with(col("ba"), col("bb"), (x, y) => x === y),
          b => b)).as("table_collisions"))
      .orderBy(col("cos_sim").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** TF-IDF term weights, the shared (doc, term, weight) sparse-vector
    * relation behind q41/q45: tf per (doc, term), idf = ln(N/df) over
    * the whole corpus, weight = tf·idf quantized to DECIMAL(18,6) so
    * downstream sums are exact and shuffle-order independent (the
    * cross-engine oracle contract — ln() may differ by 1 ulp between
    * libm and DuckDB, so idf is rounded to 6 decimals first).
    */
  private def tfidfWeights(d: DataFrame): DataFrame = {
    // per-doc tf is row-local state: the ElementCounts kernel counts in
    // the map stage and explode(map) emits (doc, term, tf) with NO
    // (doc, term) aggregation shuffle
    val tf = d
      .select(col("lang"), col("source"), col("doc_id"),
        explode(graft.expressions.ElementCounts.elementCounts(
          graft.expressions.WordShingles.shingles(col("text"), 1)))
          .as(Seq("term", "tf")))
    val total = d.agg(count(lit(1)).as("n_total"))
    // tf is unique per (doc, term) by construction, so the document
    // frequency is a plain count — count_distinct here would plan an
    // Expand + a second aggregate pass for the same value
    val idf = tf.groupBy("term")
      .agg(count(lit(1)).as("df_t"))
      .crossJoin(broadcast(total))
      .withColumn("idf", round(log(col("n_total") / col("df_t")), 6))
      .select("term", "idf")
    tf.join(broadcast(idf), Seq("term"))
      .select(col("lang"), col("source"), col("doc_id"), col("term"),
        round(col("tf") * col("idf"), 6).cast("decimal(18,6)").as("w"))
  }

  /** q45 — top-3 TF-IDF keywords per document (the per-doc keyword
    * extraction every corpus index/labeling pass needs). One window
    * rank over the shared [[tfidfWeights]] relation: partitioned by
    * doc, ordered by (weight desc, term) so ties are deterministic.
    *
    * Shape: the weights' own (doc, term) aggregation already shuffled
    * on a doc-bearing key, and the rank window re-partitions by doc_id
    * alone — per-doc state is the doc's vocabulary, never the corpus.
    * No driver collect, no global sort before the final presentation
    * ORDER BY.
    */
  def qTopKeywords(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("term"))
    tfidfWeights(GateInputs.documents(spark, dir))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        col("w").cast("double").as("weight"))
      .orderBy("doc_id", "rank")
  }

  /** q59 — full CUBE grouping sets: doc/token totals for every (lang,
    * source) combination INCLUDING per-source subtotals (which ROLLUP's
    * hierarchy omits) — the complete grouping-set lattice in one pass
    * (Spark expands 4 grouping sets before the same partial-agg +
    * single shuffle plan; q39's rollup is the 3-set prefix). "ALL"
    * labels keep the result null-free and totally ordered.
    */
  def qCubeProfile(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .select(col("lang"), col("source"),
        tokenCount(col("text")).as("n_tokens"))
      .cube("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_tokens"))
      .orderBy("lang", "source")

  /** A Spanish-function-word passage used to PLANT code-switched
    * documents (shared with the SQL-oracle generator). The corpus's
    * synthetic text is English-function-word-dominated in every `lang`
    * stratum, so a detectable second language has to be injected.
    */
  val EsMarkerPassage: String = Seq.fill(10)("el la y es un").mkString(" ")

  /** q61 — code-switching (mixed-language) detection: language-ID the
    * HEAD and TAIL halves of each document independently and flag
    * documents whose halves disagree — the curation signal for
    * concatenation artifacts and code-switched text that a whole-doc
    * language ID averages away. The synthetic corpus reads as English
    * throughout (q17), so mixed documents are PLANTED (the q46/q49
    * construction rule): 30 docs get [[EsMarkerPassage]] appended
    * under fresh ids; detection recovers 22 of them (a long original
    * can keep the tail half English-dominated — the detector's honest
    * recall boundary) plus the naturally split-scoring docs.
    *
    * Shape: the detector is a pure map stage (two substring halves,
    * the same stopword scorers as q17 on each). The construction
    * scaffolding uses a global rank window for deterministic ids — 30
    * rows of test scaffolding, not operator dataflow.
    */
  def qCodeSwitch(spark: SparkSession, dir: String): DataFrame = {
    val d0 = GateInputs.documents(spark, dir)
    // the 30 smallest English doc_ids, as TakeOrderedAndProject (no
    // global window — the one WindowExec-on-one-partition pattern this
    // file used to carry); fresh ids derive from doc_id directly
    val mixed = d0.filter(col("lang") === "en")
      .select("doc_id", "text")
      .orderBy("doc_id").limit(30)
      .select((lit(9000000L) + col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" " + EsMarkerPassage)).as("text"))
    val corpus = d0.select("doc_id", "text").unionByName(mixed)
    // TWO materialization boundaries, one per fan-out level: without
    // them CollapseProject cascades the halved/doubled text into all
    // 40 stopword counters and the counters into both argmaxes and the
    // filter — a ~700 KB physical plan re-deriving the string pipeline
    // per reference (measured 8.7 s at sf0.1; with the boundaries,
    // ~1.5 s). The persists are corpus-narrow (text-sized resp. 8
    // longs per doc) and released by the caller's clearCache — the
    // standard cache-lifetime contract (Dedup.nearDupPairs).
    val withH = corpus
      .withColumn("d1", doubledText(
        expr("substring(text, 1, CAST(floor(length(text)/2) AS INT))")))
      .withColumn("d2", doubledText(
        expr("substring(text, CAST(floor(length(text)/2) AS INT) + 1, " +
          "length(text))")))
      .persist()
    val withScores = LangStopwords.foldLeft(withH) { case (d, (code, ws)) =>
      d.withColumn(s"h1_$code", stopwordHits(col("d1"), ws))
        .withColumn(s"h2_$code", stopwordHits(col("d2"), ws))
    }
    val scored = withScores
      .select(col("doc_id") +:
        LangStopwords.flatMap { case (c, _) =>
          Seq(col(s"h1_$c"), col(s"h2_$c")) }: _*)
      .persist()
    scored
      .withColumn("head_lang", langIdFromScores(
        LangStopwords.map { case (c, _) => c -> col(s"h1_$c") }))
      .withColumn("tail_lang", langIdFromScores(
        LangStopwords.map { case (c, _) => c -> col(s"h2_$c") }))
      .filter(col("head_lang") =!= col("tail_lang") &&
        col("head_lang") =!= "und" && col("tail_lang") =!= "und")
      .select("doc_id", "head_lang", "tail_lang")
      .orderBy("doc_id")
  }

  /** q60 — bounded vocabulary + per-doc OOV rate: the tokenizer-prep
    * operator. The vocabulary keeps terms whose document frequency
    * lands in [minDf, maxDf] (min_df prunes hapax noise, max_df prunes
    * stopwords — the classic CountVectorizer bounds); each document
    * then reports its token count, how many tokens fall outside that
    * vocabulary, and the OOV fraction — the signal that drives
    * vocab-size and normalization decisions before training a
    * tokenizer.
    *
    * Shape: per-doc term counts in the map stage (ElementCounts), ONE
    * term-key aggregation for the df-bounded vocabulary (tiny — it is
    * a vocabulary), broadcast it back against the per-doc term rows,
    * and a doc-key aggregation of two pre-combined sums. The corpus
    * text never shuffles; the only wide stages carry (term, df) and
    * (doc_id, counts).
    */
  def qOovRate(spark: SparkSession, dir: String,
      minDf: Int = 3, maxDf: Int = 400): DataFrame = {
    val tf = GateInputs.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.expressions.ElementCounts.elementCounts(
          graft.expressions.WordShingles.shingles(col("text"), 1)))
          .as(Seq("term", "tf")))
      .persist() // vocab build + the per-doc scoring pass
    val vocab = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select("term")
    tf.join(broadcast(vocab.withColumn("in_vocab", lit(1L))),
        Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L))
          .as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** q39 — hierarchical corpus profile via ROLLUP grouping sets: per
    * (lang, source) totals plus per-lang subtotals plus the grand
    * total, one pass (Spark expands the grouping sets before the same
    * partial-agg + shuffle plan — no extra scan per level). Subtotal
    * rows label the rolled-up dimension "ALL" so the result is
    * null-free and totally ordered.
    */
  def qRollupProfile(spark: SparkSession, dir: String): DataFrame =
    GateInputs.documents(spark, dir)
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_tokens"))
      .orderBy("lang", "source")

  /** Winnowed-fingerprint overlap pairs (plagiarism/boilerplate
    * detection): documents sharing ≥2 winnowing fingerprints, with the
    * shared count. Same scalable co-count shape as the Jaccard pairs —
    * explode the (small) fingerprint sets, equi-join on the
    * fingerprint, count per pair; non-overlapping pairs never
    * materialize.
    */
  def qFingerprintWinnow(spark: SparkSession, dir: String): DataFrame = {
    val w = 4
    // fingerprints via the native kernel — same values as
    // array_distinct(winnowFingerprints(shingleHashes(sh), w)), one
    // digest pass, no per-window slice allocation (DedupSpec parity)
    val d = GateInputs.documents(spark, dir)
      .select(col("doc_id"),
        graft.expressions.WordShingles.shingles(col("text")).as("sh"))
      .select(col("doc_id"),
        graft.expressions.WinnowFingerprints.winnow(col("sh"), w).as("fp"))
      .persist() // both sides of the overlap self-join
    val ex = d.select(col("doc_id"), explode(col("fp")).as("f"))
    ex.as("a").join(ex.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-global SPAN dedup (the C4 shape: any k-token span that
    * occurs more than once in the whole corpus is removed from every
    * document but the first). Chunking is done with ONE global regex
    * pass — every k-token group's trailing space becomes a 
    * separator, then one split — instead of a `transform` lambda
    * slicing a computed token array, which Spark would inline and
    * re-evaluate per span (the q86 lambda-inlining lesson: that
    * formulation is O(doc²/k) per document). Contract: text is
    * single-space tokenized (the pre-tokenizer normalization every
    * corpus pipeline runs first); the trailing <k-token remainder is
    * its own span.
    *
    * Scale shape: span rows shuffle ONCE on the span digest for the
    * global keep-first window (order = first occurrence position
    * (doc_id, span_idx) — deterministic), survivors shuffle once on
    * doc_id for reassembly. The digest is md5 so the DuckDB mirror
    * replays identical keep decisions.
    */
  /** (doc_id, span_idx, span) rows — the one-regex-pass chunker shared
    * by [[spanDedup]] and its ingest form.
    */
  private def spanRows(d: DataFrame, k: Int): DataFrame = {
    val sep = ""
    val spansStr = regexp_replace(col("text"),
      s"((\\S+ ){${k - 1}}\\S+) ", "$1" + sep)
    d.select(col("doc_id"),
      posexplode(split(spansStr, sep)).as(Seq("span_idx", "span")))
  }

  /** Per-doc report (n_spans, n_kept, clean_sig, n_chars_kept) from
    * span rows carrying a `keep` flag.
    */
  private def spanReport(kept: DataFrame): DataFrame =
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // NULL (not md5("")) when every span was dropped, matching
        // SQL string_agg-over-no-rows semantics
        when(sum(when(col("keep"), 1L).otherwise(0L)) > 0,
          md5(array_join(transform(array_sort(
              collect_list(when(col("keep"),
                struct(col("span_idx"), col("span"))))),
            s => s.getField("span")), " "))).as("clean_sig"),
        sum(when(col("keep"), length(col("span")))
          .otherwise(0L)).as("n_chars_kept"))
      .orderBy("doc_id")

  def spanDedup(d: DataFrame, k: Int): DataFrame = {
    val wFirst = Window.partitionBy(md5(col("span")))
      .orderBy(col("doc_id"), col("span_idx"))
    spanReport(spanRows(d, k)
      .withColumn("rn", row_number().over(wFirst))
      .withColumn("keep", col("rn") === 1))
  }

  /** The landed span-hash index for [[spanDedupIncrement]]: one
    * `span_md5` row per distinct span in the landed corpus. At scale
    * this is the persisted state an ingest pipeline appends
    * [[spanDedupIncrement]]'s `index_delta` to each batch.
    */
  def spanIndex(d: DataFrame, k: Int): DataFrame =
    spanRows(d, k).select(md5(col("span")).as("span_md5")).distinct()

  /** The INGEST form of [[spanDedup]] — the q46 anti-join shape at
    * span granularity: a landing batch's spans are dropped if their
    * digest is already in the LANDED index (landed always wins —
    * exactly [[spanDedup]]'s keep-first rule when landed docs precede
    * the batch), then first-occurrence dedup runs WITHIN the batch.
    * Landed text never re-chunks and never shuffles; the per-batch
    * cost is one span-digest anti-join against the index plus the
    * in-batch window. Returns the per-doc report plus `index_delta` =
    * the distinct new span digests to append to the index (so
    * successive batches compose associatively — spec-pinned equal to
    * one whole-corpus [[spanDedup]] pass).
    */
  def spanDedupIncrement(batch: DataFrame, landedIndex: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    val wFirst = Window.partitionBy("span_md5")
      .orderBy(col("doc_id"), col("span_idx"))
    val flagged = spanRows(batch, k)
      .withColumn("span_md5", md5(col("span")))
      .join(markerIndex(landedIndex), Seq("span_md5"), "left")
      .withColumn("rn", row_number().over(wFirst))
      .withColumn("keep", col("__landed").isNull && col("rn") === 1)
    val report = spanReport(flagged)
    val delta = flagged.filter(col("keep"))
      .select(col("span_md5")).distinct()
    (report, delta)
  }

  /** Left-join marker relation for the landed index (a left JOIN, not
    * left_anti, because dropped spans must still count in `n_spans`;
    * never broadcast — the index scales with the corpus's distinct
    * spans, so this is the q46 shuffle-anti-join class).
    */
  private def markerIndex(idx: DataFrame): DataFrame =
    idx.select(col("span_md5"), lit(1).as("__landed"))

  /** q91 — [[spanDedup]] with k = 3 over the documents table: per doc
    * the span count, surviving-span count, an md5 signature of the
    * reconstructed cleaned text (survivors rejoined in order with a
    * single space) and the surviving character mass. The DuckDB
    * mirror rebuilds the same spans, keep-first decisions and
    * reconstruction, so the signature match certifies the cleaned
    * CONTENT, not just the counts.
    */
  def qSpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup(GateInputs.documents(spark, dir), 3)

  /** Corpus-global ARBITRARY-OFFSET duplicated-span report — the
    * exact-substring-dedup shape of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al. 2022, ExactSubstr): every
    * stride-1 `l`-token gram is hashed, grams whose hash occurs ≥ 2
    * times ANYWHERE in the corpus (other docs or the same doc) are
    * duplicated, and per doc the duplicated gram positions merge into
    * MAXIMAL regions (the gaps-and-islands key: pos − row_number).
    * This is what [[spanDedup]]'s fixed non-overlapping chunking
    * cannot see: a repeated passage at a shifted offset straddles
    * chunk boundaries there, while every interior l-gram of the
    * repeat collides here regardless of alignment.
    *
    * Output per maximal region: (doc_id, gram_start, gram_end,
    * n_grams, n_dup_tokens) with gram positions 0-based in l-gram
    * space and n_dup_tokens = min(n_grams + l − 1, doc tokens) — the
    * token mass the region covers (a < l-token doc contributes its
    * single whole-text shingle, capped by its real length).
    *
    * Scale shape: the reference implementation builds a corpus suffix
    * array (sequential, memory-bound); this formulation is the
    * distributed equivalent for fixed minimum length l — one shingle
    * map stage (zero-copy kernel), one (hash) aggregation, one
    * membership join, one per-doc window. Shuffles carry 16-byte
    * hashes + positions, never text.
    */
  /** (doc_id, n_toks, pos, h) — every stride-1 l-gram's md5-16 digest
    * with its 0-based position. The shared front of [[duplicatedSpans]]
    * and [[duplicatedSpansIncrement]]. */
  private def gramPositions(d: DataFrame, l: Int): DataFrame = {
    val nToks = size(split(
      regexp_replace(lower(col("text")), "\\s+", " "), " ")).cast("long")
    d.select(col("doc_id"), nToks.as("n_toks"),
        posexplode(shingleHashes(
          graft.expressions.WordShingles.shingles(col("text"), l)))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("n_toks"),
        col("pos").cast("long").as("pos"), col("h"))
  }

  /** Merge duplicated gram positions into maximal per-doc regions
    * (gaps-and-islands); `dp` carries (doc_id, n_toks, pos). */
  private def regionsOf(dp: DataFrame, l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dp.withColumn("isl", col("pos") - row_number().over(w))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("gram_start"), max("pos").as("gram_end"),
        count(lit(1)).as("n_grams"), first("n_toks").as("n_toks"))
      .select(col("doc_id"), col("gram_start"), col("gram_end"),
        col("n_grams"),
        least(col("n_grams") + lit(l - 1), col("n_toks"))
          .as("n_dup_tokens"))
  }

  def duplicatedSpans(d: DataFrame, l: Int): DataFrame = {
    require(l >= 2, s"span length must be >= 2 tokens, got $l")
    // two consumers (occurrence counts + the membership join) — the
    // triangles materialize-once rule (localCheckpoint, not persist)
    val ex = gramPositions(d, l).localCheckpoint()
    val dup = ex.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    regionsOf(ex.join(dup, Seq("h"))
      .select("doc_id", "n_toks", "pos"), l)
  }

  /** The INGEST form of [[duplicatedSpans]]: a landing batch's grams
    * are duplicated if their digest is already in the LANDED gram
    * index (one prior occurrence + this one = two) or occurs ≥ 2
    * times within the batch itself. Returns (per-doc regions for the
    * BATCH docs, the batch's distinct NEW digests — the index delta).
    * Ingest-time contract: regions are reported for the incoming doc
    * against everything landed before it plus its own batch; a landed
    * doc's own region is not retro-reported (the spanDedupIncrement
    * temporal-precedence rule, applied to detection). Per-batch cost:
    * the batch's gram map stage + one digest membership join — landed
    * text is never re-chunked.
    */
  def duplicatedSpansIncrement(batch: DataFrame, landedGrams: DataFrame,
      l: Int): (DataFrame, DataFrame) = {
    require(l >= 2, s"span length must be >= 2 tokens, got $l")
    // three consumers (in-batch counts, membership join, index delta)
    val ex = gramPositions(batch, l).localCheckpoint()
    val inBatchDup = ex.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val landed = landedGrams.select(col("gram_md5").as("h"))
    val dup = inBatchDup.unionByName(landed).distinct()
    val report = regionsOf(ex.join(dup, Seq("h"))
      .select("doc_id", "n_toks", "pos"), l)
    val delta = ex.select("h").distinct()
      .join(landed, Seq("h"), "left_anti")
      .select(col("h").as("gram_md5"))
    (report, delta)
  }

  /** q105 — [[duplicatedSpans]] at l = 8 over the corpus plus planted
    * OFFSET-SHIFTED copies (first 100 docs re-landed with their 5
    * leading tokens dropped): the repeats sit at different offsets on
    * the two sides, which is precisely the case q91's aligned chunking
    * misses and the stride-1 gram hash catches.
    */
  def qDuplicatedSpans(spark: SparkSession, dir: String): DataFrame = {
    // spread: the stride-1 gram hashing is the heaviest map stage in
    // this file and feeds two consumers (−2.1 s measured at sf0.1)
    val d0 = GateInputs.spread(GateInputs.documents(spark, dir))
    val toks = split(col("text"), " ")
    val shifted = d0.filter(col("doc_id") < 100)
      .select((col("doc_id") + 30000L).as("doc_id"),
        array_join(slice(toks, lit(6), greatest(size(toks) - 5, lit(1))),
          " ").as("text"))
    duplicatedSpans(
      d0.select("doc_id", "text").unionByName(shifted), 8)
      .orderBy("doc_id", "gram_start")
  }

  /** Sliding-window document CHUNKING — the RAG/embedding-prep shape:
    * whitespace-normalized tokens cut into `chunkTokens`-token windows
    * advancing by `chunkTokens − overlapTokens`, the standard
    * chunk-count rule nChunks = max(1, ⌈(n − chunk)/step⌉ + 1) (every
    * doc yields ≥ 1 chunk; every chunk except possibly the last is
    * full-length; consecutive chunks share exactly `overlapTokens`
    * tokens). Output carries a stable (doc_id, chunk_idx) identity,
    * the chunk text, token/char counts and an md5 content signature —
    * the identity+digest columns an embedding/index stage downstream
    * keys on.
    *
    * Scale shape: one regex normalization + slice HOFs per row, a
    * posexplode over the in-row chunk-index sequence — a pure map
    * stage, zero shuffles; chunk volume ≈ corpus tokens /
    * (chunk − overlap), each row independent. No window, no join.
    */
  def chunkDocuments(d: DataFrame, chunkTokens: Int,
      overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got chunk=$chunkTokens overlap=$overlapTokens")
    val step = chunkTokens - overlapTokens
    val toks = split(regexp_replace(col("text"), "\\s+", " "), " ")
    val n = size(toks)
    val nChunks = when(n <= chunkTokens, lit(1L)).otherwise(
      ceil((n - chunkTokens).cast("double") / step).cast("long") + 1L)
    d.select(col("doc_id"), toks.as("__toks"), nChunks.as("__nc"))
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0L), col("__nc") - 1L))
          .as(Seq("__pos", "chunk_idx")))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("__toks"),
          (col("chunk_idx") * step + 1L).cast("int"), lit(chunkTokens)),
          " ").as("chunk_text"),
        size(slice(col("__toks"),
          (col("chunk_idx") * step + 1L).cast("int"), lit(chunkTokens)))
          .cast("long").as("n_tokens"))
      .withColumn("n_chars", length(col("chunk_text")).cast("long"))
      .withColumn("chunk_sig", md5(col("chunk_text")))
  }

  /** q103 — [[chunkDocuments]] at 64-token windows / 16-token overlap
    * over the corpus; the gate emits identity + digests (the mirror
    * rebuilds the same slices, so the signature match certifies chunk
    * CONTENT, not just counts).
    */
  def qChunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(GateInputs.documents(spark, dir), 64, 16)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_tokens"), col("n_chars"), col("chunk_sig"))
      .orderBy("doc_id", "chunk_idx")
}

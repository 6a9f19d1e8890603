package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece unigram
  * model — the other half of production tokenizer training next to BPE,
  * `fink`-unrelated: this is the LLM-data-pipeline family) as
  * distributed dataflow, the [[Bpe]] sibling:
  *
  *  - The corpus is touched ONCE — the map-side-combined word-frequency
  *    aggregation (same pass as [[Bpe.train]]). Everything after runs
  *    over the DICT (distinct tokens × their frequency), which is
  *    vocabulary-sized by construction, never corpus-sized.
  *  - SEED: candidate pieces are all substrings of dict words up to
  *    `seedMaxLen`, counted corpus-weighted in one dict-sized
  *    aggregation ([[seedCandidates]], gated as q138 against a DuckDB
  *    mirror). All single characters are force-kept (coverage
  *    guarantee); multi-char candidates fill the remaining
  *    `seedSize` slots by (weighted_n desc, piece asc).
  *  - EM rounds are DISTRIBUTED passes: the E-step is a hard-EM
  *    (Viterbi) segmentation of every dict word — a `mapPartitions`
  *    map stage over the dict with the piece table BROADCAST (the
  *    documented bounded-driver-model pattern: driver state is the
  *    ≤ `seedSize` piece table, like PQ codebooks / k-means
  *    centroids); the M-step is ONE grouped aggregation of the
  *    emitted (piece, tf) pairs. Genuine per-row imperative DP is the
  *    sanctioned use of a typed map stage — there is no Catalyst
  *    composition of an O(len × maxLen) argmax DP that beats a
  *    compiled loop over a broadcast hash map.
  *  - Determinism (the BpeSpec contract): piece scores are INTEGER
  *    micro-log-probabilities — round(1e6 · ln((cnt+1)/(total+V))),
  *    add-one smoothed so zero-count forced characters stay scoreable
  *    — and the Viterbi DP compares exact Long sums, tie-breaking on
  *    the LONGER last piece. Segmentations are therefore unique and
  *    independent of partitioning/row order; [[UnigramSpec]] pins
  *    scores and segmentations against an independent driver
  *    implementation, and q138 hash-gates the seed statistic.
  *  - PRUNE: after `emRounds`, multi-char pieces are cut to
  *    `vocabSize − nChars` by (count desc, piece asc) — the
  *    deterministic stand-in for SentencePiece's likelihood-loss
  *    ranking — then one final E/M pass over the pruned table yields
  *    the shipped counts, scores, and segmentations.
  *
  * 100 TB shape: one corpus-sized shuffle (the word dict), then
  * O(emRounds) dict-sized jobs with a broadcast piece table; no
  * all-pairs stage, no corpus-sized driver state, no per-round corpus
  * rescan.
  */
object Unigram {

  /** Integer micro-log-probability: round(1e6 · ln(num/den)) as Long.
    * JVM `Math.log` is deterministic across runs and partitionings;
    * the spec's independent implementation repeats the same call.
    */
  def microLn(num: Long, den: Long): Long =
    math.floor(1e6 * math.log(num.toDouble / den.toDouble) + 0.5).toLong

  /** The ONE corpus-sized pass: (tok, tf), map-side combined. Empty
    * tokens (leading/trailing-whitespace artifacts of the split
    * contract, see [[graft.expressions.WordShingles]]) are dropped —
    * they carry no substring.
    */
  private def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(
        graft.expressions.WordShingles.shingles(col(textCol), 1)).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))

  /** Corpus-weighted substring counts over a (tok, tf) dict: every
    * substring of length 1..`maxLen` of every word. The inner
    * `sequence` upper bound is ≥ 1 by construction (l ≤ length), the
    * outer is guarded by `least` — neither hits Spark's descending
    * `sequence(1, 0)` edge (the q74 gotcha).
    */
  private def substringCounts(dict: DataFrame, maxLen: Int): DataFrame =
    dict
      .select(col("tf"), explode(expr(
        s"""flatten(transform(sequence(1, least($maxLen, length(tok))),
           |  l -> transform(sequence(1, length(tok) - l + 1),
           |    i -> substring(tok, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece")
      .agg(sum(col("tf")).as("weighted_n"), count(lit(1)).as("n_positions"))

  /** Seed-candidate statistic (q138's stage, the [[Bpe.pairCounts]]
    * analog): every substring of length 1..`maxLen` of every dict
    * word, corpus-weighted. `weighted_n` = Σ tf over occurrences
    * (a word containing the piece k times contributes k·tf),
    * `n_positions` = occurrence count over the dict. Dict-sized × a
    * small constant — never corpus-sized.
    */
  def seedCandidates(docs: DataFrame, textCol: String = "text",
      maxLen: Int = 4): DataFrame =
    substringCounts(wordDict(docs, textCol), maxLen)

  /** q138 — the unigram seed statistic, top-50 candidate pieces by
    * corpus-weighted count (ties broken by piece). The deterministic
    * integer stage of unigram training, hash-gated against the DuckDB
    * mirror the way q74 gates BPE's pair-count stage; the EM rounds
    * (no SQL oracle replays an argmax DP) are pinned by UnigramSpec
    * against an independent driver implementation.
    */
  def qUnigramSeed(spark: SparkSession, dir: String): DataFrame =
    seedCandidates(GateInputs.documents(spark, dir))
      .orderBy(col("weighted_n").desc, col("piece"))
      .limit(50)

  /** Viterbi segmentation of one word under integer micro-log scores:
    * maximize the summed score over pieces (exact Long comparisons);
    * on ties prefer the LONGER last piece at each DP cell (unique
    * backpointers ⇒ unique segmentation). Returns null when the word
    * is not coverable (cannot happen for dict words — every character
    * of the dict is force-kept in the piece table).
    */
  private[llmops] def viterbi(word: String, scores: Map[String, Long],
      maxLen: Int): Array[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Long.MinValue)
    val back = new Array[Int](n + 1) // length of the piece ending at i
    best(0) = 0L
    var i = 1
    while (i <= n) {
      var l = 1
      val lMax = math.min(maxLen, i)
      while (l <= lMax) {
        if (best(i - l) != Long.MinValue) {
          scores.get(word.substring(i - l, i)) match {
            case Some(s) =>
              val cand = best(i - l) + s
              if (cand > best(i) || (cand == best(i) && l > back(i))) {
                best(i) = cand
                back(i) = l
              }
            case None =>
          }
        }
        l += 1
      }
      i += 1
    }
    if (best(n) == Long.MinValue) return null
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) {
      out += word.substring(p - back(p), p)
      p -= back(p)
    }
    out.reverseIterator.toArray
  }

  /** One distributed E-step + driver M-step: Viterbi-segment every
    * dict word under `scores` (broadcast), aggregate corpus-weighted
    * piece counts (ONE grouped aggregation), collect the piece-table-
    * sized result. Uncoverable words (impossible for the self-derived
    * dict) fail loudly rather than skewing counts silently.
    */
  private def emCounts(spark: SparkSession, dict: DataFrame,
      scores: Map[String, Long], maxLen: Int): Map[String, Long] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(scores)
    dict.as[(String, Long)]
      .mapPartitions { it =>
        val sc = bc.value
        it.flatMap { case (tok, tf) =>
          val pieces = viterbi(tok, sc, maxLen)
          if (pieces == null)
            throw new IllegalStateException(
              s"unigram E-step: dict word '$tok' not coverable — " +
                "single-character pieces were dropped from the table")
          pieces.iterator.map(p => (p, tf))
        }
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .reduceGroups(_ + _)
      .collect()
      .toMap
  }

  /** Add-one-smoothed integer scores over a piece-count table: pieces
    * with cnt 0 (forced characters a round never used) stay scoreable
    * without a special case, and relative order of positive counts is
    * preserved.
    */
  private def toScores(counts: Map[String, Long]): Map[String, Long] = {
    val total = counts.valuesIterator.sum + counts.size
    counts.map { case (p, c) => p -> microLn(c + 1, total) }
  }

  /** Train a unigram-LM piece vocabulary. Returns
    * (pieces, segmentation): `pieces` rows (piece, cnt, score_micro)
    * with `cnt` the final-E-step corpus-weighted Viterbi count;
    * `segmentation` rows (tok, tf, sym) with `sym` the space-joined
    * final segmentation of each dict word ([[Bpe.train]]'s shape).
    */
  def train(docs: DataFrame, textCol: String = "text",
      vocabSize: Int = 400, seedMaxLen: Int = 4, seedSize: Int = 2000,
      minTf: Long = 1L, emRounds: Int = 3): (DataFrame, DataFrame) =
    trainFromDict(wordDict(docs, textCol), vocabSize, seedMaxLen,
      seedSize, minTf, emRounds)

  /** Train from a PRE-AGGREGATED (tok, tf) word dict — the 100 TB
    * retraining seam: the dict is a mergeable count aggregation, so a
    * deployment maintains it incrementally (per-batch partials
    * re-aggregated, the q70 rollup-maintenance shape; tfs simply sum)
    * and retrains the tokenizer WITHOUT rescanning the corpus —
    * training cost becomes dict-sized end to end. [[train]] is this
    * entry point applied to the one-pass dict of a raw corpus;
    * UnigramSpec pins merged-partial-dict training ≡ whole-corpus
    * training (the mergeability certificate).
    */
  def trainFromDict(rawDict: DataFrame, vocabSize: Int = 400,
      seedMaxLen: Int = 4, seedSize: Int = 2000, minTf: Long = 1L,
      emRounds: Int = 3): (DataFrame, DataFrame) = {
    val spark = rawDict.sparkSession
    import spark.implicits._
    // dict reused by the seed pass + every EM round: materialize once,
    // eagerly (iterative-loop checkpoint cadence), so the corpus (or
    // the caller's maintained partials) is scanned exactly once
    val dict = rawDict
      .filter(col("tf") >= minTf)
      .localCheckpoint(true)

    // seed cap runs DISTRIBUTED (TakeOrderedAndProject): the driver
    // only ever holds ≤ seedSize candidate rows, not the raw
    // substring-count relation
    // operator-internal multi-consumer (chars + capped multis read the
    // same counts) → lazy localCheckpoint, per the materialization rule
    val seedDf = substringCounts(dict, seedMaxLen)
      .select("piece", "weighted_n")
      .localCheckpoint(false)
    val chars = seedDf.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multis = seedDf.filter(length(col("piece")) > 1)
      .orderBy(col("weighted_n").desc, col("piece"))
      .limit(math.max(seedSize - chars.length, 0))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var counts: Map[String, Long] = (chars ++ multis).toMap

    var round = 0
    while (round < emRounds) {
      counts = withChars(emCounts(spark, dict, toScores(counts),
        seedMaxLen), chars)
      round += 1
    }
    // prune: keep every character + the top multi-char pieces
    val kept = counts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(vocabSize - chars.length, 0))
      .map(_._1).toSet ++ chars.map(_._1)
    counts = withChars(
      emCounts(spark, dict, toScores(counts.filter(kv => kept(kv._1))),
        seedMaxLen), chars)
    val finalScores = toScores(counts)

    val bc = spark.sparkContext.broadcast(finalScores)
    val maxLen = seedMaxLen
    val segs = dict.as[(String, Long)]
      .map { case (tok, tf) =>
        (tok, tf, viterbi(tok, bc.value, maxLen).mkString(" "))
      }
      .toDF("tok", "tf", "sym")
    val pieces = finalScores.toSeq
      .map { case (p, s) => (p, counts.getOrElse(p, 0L), s) }
      .toDF("piece", "cnt", "score_micro")
    (pieces, segs)
  }

  /** Characters are force-kept across rounds (coverage): a character a
    * round's Viterbi paths never used re-enters with count 0 and an
    * add-one-smoothed score rather than vanishing.
    */
  private def withChars(counts: Map[String, Long],
      chars: Array[(String, Long)]): Map[String, Long] =
    chars.map { case (c, _) => c -> counts.getOrElse(c, 0L) }.toMap ++
      counts

  /** Tokenizer APPLICATION: segment a corpus with a trained piece
    * table — the [[Bpe.segmentStats]] analog. VOCABULARY-FIRST (the
    * q74 lesson, and the reason this beats any per-occurrence kernel):
    * the one corpus-sized pass is the map-side-combined word-frequency
    * aggregation; Viterbi then runs once per DISTINCT token — dict
    * cardinality, not corpus cardinality (the `Soak unigram100x` corpus has
    * 215 occurrences per distinct token; segmenting occurrences paid
    * that factor in DP work — 21.3 s at 500k docs vs 1.1-1.4 s for
    * the dict-first rewrite on an idle window). Returns
    * corpus-weighted piece
    * frequencies. Words containing a character absent from the piece
    * table fall back to per-character pieces of themselves
    * (out-of-vocabulary contract: nothing is dropped).
    */
  def segmentStats(docs: DataFrame, pieces: DataFrame,
      textCol: String = "text", maxLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = pieces.select("piece", "score_micro")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val bc = spark.sparkContext.broadcast(scores)
    wordDict(docs, textCol)
      .as[(String, Long)]
      .flatMap { case (tok, tf) =>
        val segs = viterbi(tok, bc.value, maxLen)
        val ps: Seq[String] =
          if (segs == null) tok.map(_.toString) else segs.toSeq
        ps.map(p => (p, tf))
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .reduceGroups(_ + _)
      .toDF("piece", "n")
  }
}

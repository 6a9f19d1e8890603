package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer TRAINING and application (Schuster & Nakajima
  * 2012; the BERT-family tokenizer) — the third member of the
  * production tokenizer-prep trio: BPE ([[Bpe]], count-argmax merges),
  * unigram-LM ([[Unigram]], EM pruning), WordPiece (likelihood-argmax
  * merges). Same scale shape as [[Bpe.train]]: the corpus is touched
  * ONCE (the map-side-combined word-frequency aggregation), then the
  * merge loop runs DRIVER-LOCAL on the collected vocabulary-sized
  * dict — one distributed pass, not one job per merge.
  *
  * What distinguishes WordPiece from BPE:
  *  - symbols carry the `##` continuation convention: a word's first
  *    character is a plain symbol, every later character is
  *    `##`-prefixed, and a merge of (a, ##b) yields `a##…` stripped of
  *    the right side's marker — so learned pieces know whether they
  *    may START a word;
  *  - the merge argmax maximizes the LIKELIHOOD gain score
  *    c_pair / (c_left · c_right) over current symbol counts, not the
  *    raw pair count — rare-but-predictive pairs merge before frequent
  *    independent ones;
  *  - application is greedy longest-match-first over the final piece
  *    vocabulary (never a merge replay), with whole-token `[UNK]`
  *    fallback.
  *
  * Determinism contract: the argmax compares the rational scores
  * EXACTLY by BigInt cross-multiplication (c1·a2·b2 vs c2·a1·b1 —
  * symbol counts can exceed 2^35 at corpus scale, so the triple
  * product does not fit a Long), ties break on (left asc, right asc)
  * in plain Java string order; symbol rewriting is left-to-right
  * non-overlapping, the canonical convention shared with [[Bpe]].
  */
object WordPiece {

  /** Initial `##`-convention symbol array of a word: first char
    * plain, continuations `##`-prefixed. */
  private[llmops] def initSyms(tok: String): Array[String] = {
    val cs = tok.split("(?!^)")
    cs.zipWithIndex.map { case (c, i) => if (i == 0) c else "##" + c }
  }

  /** Merged symbol of an adjacent pair: right side's continuation
    * marker is absorbed (`a` + `##b` → `ab`, `##a` + `##b` → `##ab`). */
  private[llmops] def mergedSym(a: String, b: String): String =
    a + b.stripPrefix("##")

  /** (merges, pieces, finalVocab): `merges` in application order;
    * `pieces` the distinct final symbols (the piece vocabulary greedy
    * application matches against); `finalVocab` rows (tok, tf, sym)
    * with `sym` the space-joined symbol segmentation after all
    * merges. `minTf` caps the dict BEFORE the collect (the standard
    * vocabulary bound for web-scale corpora — the driver holds the
    * distinct-token dict, never the corpus).
    */
  def train(docs: DataFrame, textCol: String = "text",
      nMerges: Int = 20, minTf: Long = 1L)
      : (Seq[(String, String)], Seq[String], DataFrame) = {
    val spark = docs.sparkSession
    // the ONE distributed pass: corpus -> (tok, tf), map-side combined
    val dict = docs
      .select(explode(
        graft.expressions.WordShingles.shingles(col(textCol), 1)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTf)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    final case class W(tok: String, tf: Long, var syms: Array[String])
    val words = dict.map { case (t, f) => W(t, f, initSyms(t)) }
    val pairCounts =
      scala.collection.mutable.HashMap[(String, String), Long]()
    val symCounts = scala.collection.mutable.HashMap[String, Long]()
    val index =
      scala.collection.mutable.HashMap[(String, String),
        scala.collection.mutable.Set[Int]]()
    def account(i: Int, sign: Long): Unit = {
      val w = words(i)
      var j = 0
      while (j < w.syms.length) {
        val s = w.syms(j)
        val cs = symCounts.getOrElse(s, 0L) + sign * w.tf
        if (cs == 0L) symCounts.remove(s) else symCounts(s) = cs
        if (j < w.syms.length - 1) {
          val p = (s, w.syms(j + 1))
          val c = pairCounts.getOrElse(p, 0L) + sign * w.tf
          if (c == 0L) pairCounts.remove(p) else pairCounts(p) = c
          if (sign > 0)
            index.getOrElseUpdate(p,
              scala.collection.mutable.Set[Int]()) += i
        }
        j += 1
      }
    }
    words.indices.foreach(account(_, 1L))

    def applyMerge(syms: Array[String], a: String, b: String)
        : Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += mergedSym(a, b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }

    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var round = 0
    while (round < nMerges && pairCounts.nonEmpty) {
      // argmax of c_p/(c_a·c_b) by exact BigInt cross-multiplication;
      // ties on the exact rational break (a asc, b asc)
      var best: (String, String) = null
      var bestN = BigInt(0); var bestD = BigInt(1)
      for ((p, c) <- pairCounts) {
        val n = BigInt(c)
        val d = BigInt(symCounts(p._1)) * BigInt(symCounts(p._2))
        val cmp = (n * bestD).compare(bestN * d)
        if (best == null || cmp > 0 || (cmp == 0 &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestN = n; bestD = d
        }
      }
      merges += best
      for (i <- index.getOrElse(best, Set.empty[Int]).toArray.sorted) {
        account(i, -1L)
        words(i).syms = applyMerge(words(i).syms, best._1, best._2)
        account(i, 1L)
      }
      round += 1
    }

    import spark.implicits._
    val vocab = words.toSeq
      .map(w => (w.tok, w.tf, w.syms.mkString(" ")))
      .toDF("tok", "tf", "sym")
    val pieces = words.iterator.flatMap(_.syms).toSeq.distinct.sorted
    (merges.toSeq, pieces, vocab)
  }

  /** Greedy longest-match-first segmentation of one token against a
    * piece set — the WordPiece APPLICATION rule (BERT's
    * `tokenize()`): repeatedly take the longest vocabulary piece
    * prefixing the remainder (`##`-prefixed after the first piece);
    * if no piece matches at any position the WHOLE token degrades to
    * `[UNK]` (the reference behavior — partial segmentations are
    * never emitted). Driver/executor-pure; exposed for spec use.
    */
  private[llmops] def greedyPieces(tok: String,
      pieces: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var pos = 0
    while (pos < tok.length) {
      val pfx = if (pos == 0) "" else "##"
      var end = tok.length
      var hit: String = null
      while (hit == null && end > pos) {
        val cand = pfx + tok.substring(pos, end)
        if (pieces.contains(cand)) hit = cand else end -= 1
      }
      if (hit == null) return Seq("[UNK]")
      out += hit
      pos = end
    }
    out.toSeq
  }

  /** Corpus-weighted piece frequencies under greedy application — the
    * [[Bpe.segmentStats]] / [[Unigram.segmentStats]] sibling, and the
    * operator a data pipeline actually runs per batch once training
    * is done. Dict-priced like the unigram form: the greedy matcher
    * runs once per DISTINCT token (mapPartitions over the word dict
    * with the piece set BROADCAST — pieces are vocabulary-sized by
    * construction), then weights by token frequency; the corpus is
    * touched only by the one word-count aggregation.
    */
  def segmentStats(docs: DataFrame, pieces: Seq[String],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieceSet = spark.sparkContext.broadcast(pieces.toSet)
    val dict = docs
      .select(explode(
        graft.expressions.WordShingles.shingles(col(textCol), 1)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
      .as[(String, Long)]
    dict.mapPartitions { it =>
      val ps = pieceSet.value
      it.flatMap { case (tok, tf) =>
        greedyPieces(tok, ps).map(p => (p, tf))
      }
    }.toDF("piece", "tf")
      .groupBy("piece")
      .agg(sum(col("tf")).as("n"))
  }

  /** The round-0 WordPiece merge table over `##`-convention character
    * symbols: for every adjacent symbol pair, (pair count, both
    * symbol counts, and the likelihood score c_ab/(c_a·c_b) in
    * pico-units) — the argmax of this table is the first merge the
    * trainer performs (the [[Bpe]] q74 pattern, but with the `##`
    * symbol alphabet and the likelihood score that DISTINGUISHES
    * WordPiece from BPE). The score quantization is the q126 double
    * path — two correctly-rounded multiplies and one division, the
    * identical op sequence in both engines, then floor(·1e12 + 0.5)
    * (pico: scores are ≤ 1 and small, micro would floor most to 0).
    */
  def seedPairs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val dict = docs
      .select(explode(
        graft.expressions.WordShingles.shingles(col(textCol), 1)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
    // ##-convention character-symbol ARRAY of each dict word — one
    // vocab-sized map stage; pairs come from a transform over it (the
    // Bpe.pairCounts shape), never a positional self-join. Symbols
    // come from substr over a 1-based sequence, NOT from
    // split(tok, '(?!^)'): SQL split's default limit −1 KEEPS the
    // trailing empty piece the lookahead produces at end-of-string
    // (Java's one-arg split drops it), which would mint a phantom
    // '##' symbol. Empty tokens (degenerate whitespace split) carry
    // no symbols and are filtered — sequence(1, 0) would DESCEND.
    // The array relation feeds both count branches: lazy
    // localCheckpoint per the materialization rule
    val symArr = dict
      .filter(length(col("tok")) >= 1)
      .select(col("tf"), expr(
        "transform(sequence(1, length(tok)), i -> " +
          "CASE WHEN i = 1 THEN substr(tok, 1, 1) " +
          "ELSE concat('##', substr(tok, i, 1)) END)").as("ss"))
      .localCheckpoint(false)
    val symCounts = symArr
      .select(col("tf"), explode(col("ss")).as("s"))
      .groupBy("s").agg(sum(col("tf")).as("c_s"))
    val pairs = symArr.filter(size(col("ss")) >= 2)
      .select(col("tf"), explode(expr(
        "transform(sequence(1, size(ss) - 1), " +
          "i -> struct(element_at(ss, i) AS a, " +
          "element_at(ss, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("tf")).as("c_ab"))
    pairs
      .join(symCounts.withColumnRenamed("s", "a")
        .withColumnRenamed("c_s", "c_a"), "a")
      .join(symCounts.withColumnRenamed("s", "b")
        .withColumnRenamed("c_s", "c_b"), "b")
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        floor(col("c_ab").cast("double")
          / (col("c_a").cast("double") * col("c_b").cast("double"))
          * lit(1e12) + lit(0.5)).cast("long").as("score_pico"))
      .orderBy(col("score_pico").desc, col("a"), col("b"))
      .limit(100)
  }

  /** q141 — [[seedPairs]] as a gate query over the documents table:
    * the top-100 scored round-0 merge candidates. The mirror rebuilds
    * the dict, the `##` symbol alphabet, both count relations and the
    * pico quantization with the identical double op sequence.
    */
  def qWordpieceSeed(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    seedPairs(GateInputs.documents(spark, dir))
}

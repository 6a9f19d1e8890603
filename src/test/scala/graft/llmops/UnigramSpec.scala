package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unigram-LM tokenizer training pinned against an independent driver
  * implementation of the same definitions (hard-EM Viterbi with
  * integer micro-log scores, add-one smoothing, longer-last-piece
  * tie-break, (count desc, piece asc) seed cap and prune) — the
  * BpeSpec pattern. The driver implementation below shares NO code
  * with [[Unigram]]: recursive-memo Viterbi vs the engine's iterative
  * DP, plain-Scala substring counting vs the engine's HOF explode.
  */
class UnigramSpec extends SparkSpec {

  // ---------- independent driver implementation ----------

  /** WordShingles(_, 1) contract: lowercase, split on whitespace runs,
    * keep leading/trailing empties (then dropped by the length filter).
    */
  private def tokenize(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+", -1).toSeq.filter(_.nonEmpty)

  private def microLn(num: Long, den: Long): Long =
    math.floor(1e6 * math.log(num.toDouble / den.toDouble) + 0.5).toLong

  /** Recursive-memo Viterbi (max summed score; ties → longer last
    * piece) — independent of the engine's iterative array DP.
    */
  private def refViterbi(w: String, scores: Map[String, Long],
      maxLen: Int): Option[List[String]] = {
    val memo = scala.collection.mutable.HashMap[Int, Option[(Long, Int)]]()
    def best(i: Int): Option[(Long, Int)] =
      if (i == 0) Some((0L, 0))
      else memo.getOrElseUpdate(i, {
        var r: Option[(Long, Int)] = None
        for (l <- 1 to math.min(maxLen, i);
            s <- scores.get(w.substring(i - l, i));
            (ps, _) <- best(i - l)) {
          val cand = ps + s
          if (r.forall { case (bs, bl) =>
              cand > bs || (cand == bs && l > bl) })
            r = Some((cand, l))
        }
        r
      })
    best(w.length).map { _ =>
      var i = w.length
      var out = List.empty[String]
      while (i > 0) {
        val l = best(i).get._2
        out = w.substring(i - l, i) :: out
        i -= l
      }
      out
    }
  }

  private def refTrain(dict: Map[String, Long], vocabSize: Int,
      seedMaxLen: Int, seedSize: Int, emRounds: Int)
      : (Map[String, (Long, Long)], Map[String, List[String]]) = {
    // seed: plain-Scala substring counts
    val seedCnt = scala.collection.mutable.HashMap[String, Long]()
    for ((w, f) <- dict; l <- 1 to math.min(seedMaxLen, w.length);
        i <- 0 to w.length - l)
      seedCnt(w.substring(i, i + l)) =
        seedCnt.getOrElse(w.substring(i, i + l), 0L) + f
    val chars = seedCnt.filter(_._1.length == 1).keySet.toSet
    val multis = seedCnt.filter(_._1.length > 1).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(seedSize - chars.size, 0)).map(_._1)
    var counts: Map[String, Long] =
      (chars ++ multis).map(p => p -> seedCnt(p)).toMap

    def toScores(c: Map[String, Long]): Map[String, Long] = {
      val total = c.values.sum + c.size
      c.map { case (p, n) => p -> microLn(n + 1, total) }
    }
    def eStep(scores: Map[String, Long]): Map[String, Long] = {
      val out = scala.collection.mutable.HashMap[String, Long]()
      for ((w, f) <- dict; p <- refViterbi(w, scores, seedMaxLen).get)
        out(p) = out.getOrElse(p, 0L) + f
      chars.map(c => c -> out.getOrElse(c, 0L)).toMap ++ out.toMap
    }
    for (_ <- 1 to emRounds) counts = eStep(toScores(counts))
    val kept = counts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(vocabSize - chars.size, 0)).map(_._1).toSet ++ chars
    counts = eStep(toScores(counts.filter(kv => kept(kv._1))))
    val scores = toScores(counts)
    val pieces = scores.map { case (p, s) =>
      p -> (counts.getOrElse(p, 0L), s) }
    val segs = dict.keys.map { w =>
      w -> refViterbi(w, scores, seedMaxLen).get }.toMap
    (pieces, segs)
  }

  private def engineAsMaps(docs: org.apache.spark.sql.DataFrame,
      vocabSize: Int, seedSize: Int, emRounds: Int)
      : (Map[String, (Long, Long)], Map[String, List[String]]) = {
    val (pieces, segs) = Unigram.train(docs, vocabSize = vocabSize,
      seedSize = seedSize, emRounds = emRounds)
    val pm = pieces.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sm = segs.collect()
      .map(r => r.getString(0) -> r.getString(2).split(" ").toList).toMap
    (pm, sm)
  }

  // ---------- tests ----------

  test("distributed unigram EM reproduces the reference on a crafted corpus") {
    import spark.implicits._
    val words = Map("internationalization" -> 6L, "international" -> 9L,
      "nation" -> 14L, "nationalize" -> 4L, "intern" -> 7L,
      "ization" -> 3L, "zonal" -> 5L, "ion" -> 11L)
    val corpus = words.toSeq.flatMap { case (w, f) =>
      Seq.fill(f.toInt)(w)
    }.grouped(5).map(_.mkString(" ")).toSeq.toDF("text")
    val (ep, es) = engineAsMaps(corpus, vocabSize = 24, seedSize = 60,
      emRounds = 3)
    val dict = corpus.collect().flatMap(r => tokenize(r.getString(0)))
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    assert(dict === words)
    val (rp, rs) = refTrain(dict, vocabSize = 24, seedMaxLen = 4,
      seedSize = 60, emRounds = 3)
    assert(ep === rp, "piece (cnt, score_micro) tables diverged")
    assert(es === rs, "final segmentations diverged")
  }

  test("unigram EM matches the reference on the fixture corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val (ep, es) = engineAsMaps(docs, vocabSize = 300, seedSize = 1500,
      emRounds = 2)
    val dict = docs.select("text").collect()
      .flatMap(r => tokenize(r.getString(0)))
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val (rp, rs) = refTrain(dict, vocabSize = 300, seedMaxLen = 4,
      seedSize = 1500, emRounds = 2)
    assert(ep === rp)
    assert(es === rs)
    // every character piece survives pruning (coverage guarantee)
    val charPieces = ep.keySet.filter(_.length == 1)
    assert(dict.keysIterator.flatMap(_.iterator).map(_.toString).toSet
      === charPieces)
  }

  test("training is invariant to input partitioning") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = engineAsMaps(docs, 200, 800, 2)
    val b = engineAsMaps(docs.repartition(7), 200, 800, 2)
    assert(a === b)
  }

  test("Viterbi tie-break prefers the longer last piece") {
    // 'ab': {a:-10, b:-10, ab:-20} — equal totals; must pick 'ab'
    val scores = Map("a" -> -10L, "b" -> -10L, "ab" -> -20L)
    assert(Unigram.viterbi("ab", scores, 4).toSeq === Seq("ab"))
    assert(refViterbi("ab", scores, 4).get === List("ab"))
    // uncoverable word → null
    assert(Unigram.viterbi("ax", scores, 4) === null)
  }

  test("trainFromDict on merged partial dicts == train on the whole corpus") {
    // the 100 TB retraining seam: per-batch dict partials re-aggregate
    // (tfs sum) and training from the merged dict must equal training
    // from the raw corpus — the mergeability certificate
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    def dictOf(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(graft.expressions.WordShingles
        .shingles(col("text"), 1)).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("tf"))
    val merged = dictOf(half1).unionByName(dictOf(half2))
      .groupBy("tok").agg(sum(col("tf")).as("tf"))
    val (pa, sa) = Unigram.trainFromDict(merged, vocabSize = 200,
      seedSize = 800, emRounds = 2)
    val (pb, sb) = Unigram.train(docs, vocabSize = 200,
      seedSize = 800, emRounds = 2)
    def pm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def sm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(pm(pa) === pm(pb))
    assert(sm(sa) === sm(sb))
  }

  test("segmentStats covers the corpus exactly (Σ piece chars == Σ token chars)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val (pieces, _) = Unigram.train(docs, vocabSize = 200,
      seedSize = 800, emRounds = 1)
    assert(pieces.filter(length(col("piece")) > 1).count() > 0L,
      "unigram EM learned no multi-char pieces")
    val stats = Unigram.segmentStats(docs, pieces)
    val pieceChars = stats
      .select(sum(length(col("piece")) * col("n"))).head().getLong(0)
    val tokChars = docs.select(explode(
        graft.expressions.WordShingles.shingles(col("text"), 1)).as("t"))
      .select(sum(length(col("t")))).head().getLong(0)
    assert(pieceChars === tokChars)
  }
}

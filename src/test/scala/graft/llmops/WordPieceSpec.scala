package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** WordPiece training/application semantics: hand-derived merge
  * sequences (including the likelihood-vs-count divergence from BPE
  * and the exact-rational tie-break), the greedy longest-match
  * application rule with whole-token [UNK] fallback, and gate/train
  * consistency (the q141 seed table's argmax IS the first merge).
  */
class WordPieceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("symbol conventions: ## continuation, marker absorbed on merge") {
    assert(WordPiece.initSyms("abc").toSeq === Seq("a", "##b", "##c"))
    assert(WordPiece.initSyms("x").toSeq === Seq("x"))
    assert(WordPiece.mergedSym("a", "##b") === "ab")
    assert(WordPiece.mergedSym("##a", "##b") === "##ab")
  }

  test("train: likelihood argmax diverges from BPE's count argmax") {
    import spark.implicits._
    // xy is 5x more frequent, but qz is perfectly predictive:
    // score(x,##y) = 10/(10·10) = 0.1 < score(q,##z) = 2/(2·2) = 0.5
    val docs = Seq(("xy " * 10 + "qz qz").trim).toDF("text")
    val (merges, _, _) = WordPiece.train(docs, nMerges = 1)
    assert(merges === Seq(("q", "##z")))
    // BPE on the same corpus merges the frequent pair instead
    val (bpeMerges, _) = Bpe.train(docs, nMerges = 1)
    assert(bpeMerges === Seq(("x", "y")))
  }

  test("train: exact-rational tie breaks (left asc, right asc); full hand trace") {
    import spark.implicits._
    // ab x4, ac x1: both pairs score 4/(5·4) = 1/(5·1) = 0.2 — an
    // EXACT tie (cross-multiplied), so (a,##b) < (a,##c) merges
    // first; afterwards (a,##c) scores 1/(1·1) = 1 and merges second
    val docs = Seq("ab ab ab ab ac").toDF("text")
    val (merges, pieces, vocab) = WordPiece.train(docs, nMerges = 2)
    assert(merges === Seq(("a", "##b"), ("a", "##c")))
    assert(pieces === Seq("ab", "ac"))
    val syms = vocab.collect().map(r =>
      r.getString(0) -> r.getString(2)).toMap
    assert(syms === Map("ab" -> "ab", "ac" -> "ac"))
  }

  test("greedyPieces: longest-match-first, ## continuations, whole-token [UNK]") {
    val v = Set("a", "##b", "ab", "##c")
    assert(WordPiece.greedyPieces("abc", v) === Seq("ab", "##c"))
    assert(WordPiece.greedyPieces("a", v) === Seq("a"))
    // 'b' cannot START a token (only ##b is in the vocabulary)
    assert(WordPiece.greedyPieces("ba", v) === Seq("[UNK]"))
    // dead end mid-token degrades the WHOLE token, not a suffix
    assert(WordPiece.greedyPieces("aba", v) === Seq("[UNK]"))
  }

  test("segmentStats: corpus-weighted greedy piece counts") {
    import spark.implicits._
    val docs = Seq("ab ab c", "ab cc").toDF("text")
    val got = WordPiece.segmentStats(docs, Seq("a", "##b", "c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ab x3 -> a,##b each x3; c x1 -> c; cc -> c + ##c? ##c absent ->
    // whole-token [UNK]
    assert(got === Map("a" -> 3L, "##b" -> 3L, "c" -> 1L, "[UNK]" -> 1L))
  }

  test("seed gate argmax == train's first merge; trained pieces segment the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val top = WordPiece.seedPairs(docs).limit(1).collect().head
    val (merges, pieces, _) = WordPiece.train(docs, nMerges = 6)
    assert((top.getString(0), top.getString(1)) === merges.head,
      s"gate top ${top.getString(0)}+${top.getString(1)} vs train ${merges.head}")
    assert(pieces.exists(_.stripPrefix("##").length > 1),
      "wordpiece learned no multi-char pieces")
    // application over the training corpus never hits [UNK] (chars
    // are always available) and covers every piece family
    val stats = WordPiece.segmentStats(docs, pieces).collect()
    assert(stats.nonEmpty)
    assert(!stats.exists(_.getString(0) == "[UNK]"),
      "training-corpus segmentation produced [UNK]")
  }

  test("seedPairs is partitioning-invariant and deterministic") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
      WordPiece.seedPairs(df).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(5))).toSeq
    assert(run(docs) === run(docs.repartition(13)))
  }
}

package graft.llmops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The retrieval-serving composition: every stage must act on exactly
  * its planted victim — chunking splits the long doc, the term channel
  * finds the unique-term doc, the vector channel finds the
  * identical-embedding doc, fusion promotes the both-channels doc, MMR
  * demotes the embedding-twin despite higher relevance, and snippets
  * anchor the verbatim bigram (null where the phrase never occurs).
  */
class RagPipelineSpec extends SparkSpec {

  // corpus: doc 1 = chunk victim (10 tokens); 2 = unique-term victim;
  // 3 = vector victim; 4/5 = fusion pair; 6..9 = MMR ladder (disjoint
  // 4-token vocabularies, bm25 match counts 4/3/2/1); 10 = snippet
  private lazy val corpus = {
    import spark.implicits._
    Seq(
      1L -> "d1a d1b d1c d1d d1e d1f d1g d1h d1i d1j",
      2L -> "zebraqq tok2a tok2b tok2c",
      3L -> "tok3a tok3b tok3c tok3d",
      4L -> "f4a f4b f4c f4d",
      5L -> "f5a f5b f4c f4d",
      6L -> "s6a s6b s6c s6d",
      7L -> "s7a s7b s7c s7d",
      8L -> "s8a s8b s8c s8d",
      9L -> "s9a s9b s9c s9d",
      10L -> "alpha beta gamma delta"
    ).toDF("doc_id", "text")
  }

  private lazy val queries = {
    import spark.implicits._
    Seq(
      901L -> "zebraqq foo",                      // term-only victim
      902L -> "zzz yyy",                          // vector-only victim
      903L -> "f4a f4b f4c f5a",                  // fusion victim
      904L -> "s6a s6b s6c s6d s7a s7b s7c s8a s8b s9a", // MMR ladder
      905L -> "alpha beta"                        // snippet victim
    ).toDF("qid", "text")
  }

  // cos(902, 3) = 1 and cos(903, 4) = 1 (proportional vectors);
  // docs 6 == 7 (the MMR twins), 8/9 orthogonal; 904 has NO embedding
  // (term-only degrade) and neither do docs 2/10
  private lazy val vectors = {
    import spark.implicits._
    Seq(
      3L -> Array(3f, 1f, 0f, 0f), 902L -> Array(3f, 1f, 0f, 0f),
      4L -> Array(0f, 0f, 2f, 5f), 903L -> Array(0f, 0f, 2f, 5f),
      5L -> Array(1f, 1f, 1f, 1f),
      6L -> Array(1f, 0f, 0f, 0f), 7L -> Array(1f, 0f, 0f, 0f),
      8L -> Array(0f, 1f, 0f, 0f), 9L -> Array(0f, 0f, 1f, 0f)
    ).toDF("vec_id", "embedding")
  }

  private lazy val out = RagPipeline.prepare(corpus, queries, vectors,
    chunkTokens = 4, overlapTokens = 1, topC = 12, k = 3, ctx = 2)

  test("chunking splits the long doc into overlapping passages") {
    val byDoc = out.passages.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) === 3L) // ceil((10-4)/3)+1
    assert((2L to 10L).forall(byDoc(_) == 1L))
  }

  test("term channel: the unique-term doc tops its query, term-only") {
    val top = out.run
      .filter(col("qid") === 901L && col("fused_rank") === 1).head()
    assert(top.getAs[Long]("did") === 2000L) // doc 2, chunk 0, packed
    assert(top.getAs[Int]("in_term") === 1)
    assert(top.getAs[Int]("in_vec") === 0)
  }

  test("vector channel: the identical-embedding doc tops, vec-only") {
    val top = out.run
      .filter(col("qid") === 902L && col("fused_rank") === 1).head()
    assert(top.getAs[Long]("did") === 3000L)
    assert(top.getAs[Int]("in_vec") === 1)
    assert(top.getAs[Int]("in_term") === 0)
  }

  test("fusion: the both-channels doc outranks single-channel docs") {
    val top = out.run
      .filter(col("qid") === 903L && col("fused_rank") === 1).head()
    assert(top.getAs[Long]("did") === 4000L)
    assert(top.getAs[Int]("in_term") === 1)
    assert(top.getAs[Int]("in_vec") === 1)
  }

  test("MMR: the embedding twin is demoted below a diverse doc") {
    // bm25 relevance order 6 > 7 > 8 > 9, but 7 duplicates 6's
    // embedding: picks must go 6, 8 (diverse), then 7
    val picks = out.contexts.filter(col("qid") === 904L)
      .orderBy("pick").select("doc_id").collect().map(_.getLong(0))
    assert(picks.toSeq === Seq(6L, 8L, 7L))
  }

  test("snippets: verbatim bigram anchored; null when never occurring") {
    val hit = out.contexts
      .filter(col("qid") === 905L && col("pick") === 1).head()
    assert(hit.getAs[Long]("doc_id") === 10L)
    assert(hit.getAs[String]("snippet").contains("alpha beta"))
    assert(hit.getAs[String]("context_text") === "alpha beta gamma delta")
    // 901's pick matches 'zebraqq' but never the bigram 'zebraqq foo'
    val miss = out.contexts
      .filter(col("qid") === 901L && col("pick") === 1).head()
    assert(miss.getAs[Long]("doc_id") === 2L)
    assert(miss.getAs[String]("snippet") === null)
  }

  test("audit names every stage with a positive count") {
    val audit = out.audit.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.keySet === Set("passages", "index_postings",
      "term_run", "vec_run", "fused", "contexts"))
    assert(audit.values.forall(_ > 0L), audit.toString)
    assert(audit("passages") === 12L) // 3 + 9 single-chunk docs
    // the gate tables: at most k = 3 contexts per query, and some
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val isQuery = pmod(col("doc_id"), lit(100L)) === 0L
    val qs = docs.filter(isQuery).select(col("doc_id").as("qid"), col("text"))
    val gate = RagPipeline.prepare(
      docs.filter(!isQuery).select("doc_id", "text"), qs,
      spark.read.parquet(s"$dir/embeddings.parquet"), topC = 12, k = 3)
    val nCtx = gate.contexts.count()
    assert(nCtx > 0L && nCtx <= qs.count() * 3, s"$nCtx contexts")
    spark.catalog.clearCache() // release the caller-held passage index
  }
}

package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pre-training corpus preparation — the canonical
  * COMPOSITION of the library's curation operators, in the production
  * order a 100 TB pipeline runs them (cheapest gates first so
  * expensive stages see the smallest corpus, content-keyed shuffles
  * next, pair generation over survivors only, chunking last):
  *
  *  1. quality gate — the Gopher/C4 rule cascade
  *     ([[TextOps.qualityReason]]): a pure map stage at scan speed;
  *     dropped docs carry their first-failing reason;
  *  2. PII scrub ([[Curation.redactPii]]) — map stage over survivors;
  *  3. exact + near-dup dedup ([[Cluster.dedupCorpus]]) — the STAGED
  *     shape: one fingerprint shuffle removes replicas, MinHash-LSH +
  *     connected components run over exact-canonical survivors only
  *     (provably the same kept set — the quotient-graph argument in
  *     the Cluster scaladoc);
  *  4. verbatim eval decontamination ([[Curation.bloomAntiJoin]] on
  *     the normalized-text fingerprint) — bloom routes at scan speed,
  *     only fpp·corpus + true leaks reach the exact anti-join;
  *  5. sliding-window chunking ([[TextOps.chunkDocuments]]) — map
  *     stage emitting the (doc_id, chunk_idx)-keyed rows an
  *     embedding/tokenization stage consumes.
  *
  * Each stage is individually oracle-gated (q34/q22/q23/q33/q54/q103);
  * this entry point pins their COMPOSITION (CorpusPipelineSpec) so the
  * library answers the pipeline question, not just the operator
  * questions. Input needs (doc_id, text) — extra columns ride along.
  */
object CorpusPipeline {

  /** The prepared corpus: survivors, their chunks, and the audit frame
    * of dropped docs (doc_id, stage, reason). */
  final case class Prepared(kept: DataFrame, chunks: DataFrame,
      dropped: DataFrame)

  def prepare(docs: DataFrame, evalDocs: Option[DataFrame] = None,
      nearDupThreshold: Double = 0.5,
      chunkTokens: Int = 64, overlapTokens: Int = 16): Prepared = {
    // 1. quality gate (map stage; reasons recorded)
    val gated = TextOps.withQualityStats(docs)
      .withColumn("__reason", TextOps.qualityReason(col("n_tokens"),
        col("mwl"), col("digit_ratio"), col("sw_hits")))
      .drop("n_tokens", "mwl", "digit_ratio", "sw_hits")
    val keep = docs.columns.toIndexedSeq.map(col)
    val qualityDropped = gated.filter(col("__reason") =!= "ok")
      .select(col("doc_id"), lit("quality").as("stage"),
        col("__reason").as("reason"))
    val q = gated.filter(col("__reason") === "ok").select(keep: _*)
    // 2. PII scrub (map stage over survivors)
    val scrubbed = q.withColumn("text", Curation.redactPii(col("text")))
    // 3. staged exact + near-dup dedup over scrubbed survivors
    val deduped = Cluster.dedupCorpus(scrubbed, nearDupThreshold)
    // 4. verbatim decontamination vs the eval fingerprint set (the
    // blocklist is eval-sized: count it for the bloom sizing)
    val cleaned = evalDocs match {
      case Some(ev) =>
        val evFp = ev
          .select(TextOps.fingerprint(col("text")).as("__fp")).distinct()
        Curation.bloomAntiJoin(
            deduped.withColumn("__fp", TextOps.fingerprint(col("text"))),
            "__fp", evFp, "__fp",
            expectedItems = math.max(1L, evFp.count()))
          .drop("__fp")
      case None => deduped
    }
    // 5. chunking (map stage; stable (doc_id, chunk_idx) identity)
    val chunks = TextOps.chunkDocuments(
      cleaned.select("doc_id", "text"), chunkTokens, overlapTokens)
    // audit: dedup/decontamination drops are the kept-complement per
    // stage (cheap anti-joins on doc_id — ids only, never text)
    val dedupDropped = scrubbed.select("doc_id")
      .join(deduped.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("dedup").as("stage"),
        lit("near_or_exact_dup").as("reason"))
    val decontamDropped = deduped.select("doc_id")
      .join(cleaned.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("decontaminate").as("stage"),
        lit("eval_verbatim_leak").as("reason"))
    Prepared(cleaned, chunks,
      qualityDropped.unionByName(dedupDropped)
        .unionByName(decontamDropped))
  }
}

package graft.llmops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared gate-input plumbing for the llmops query families. */
object GateInputs {

  /** The gate corpus: `<dir>/documents.parquet`, one row per document
    * (doc_id, text, source, …).
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The gate vectors: `<dir>/embeddings.parquet`, (vec_id, embedding). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Spread-read for gate-scale inputs: the driver's sf0.1 parquet
    * tables are ONE row group each, so every tokenization/shingle map
    * stage would run on one core (`Soak q108`: isolated postings
    * build 1.4 s serial vs 0.22 s spread). A bare conditional
    * repartition was measured NET-NEGATIVE in round 12 — nothing
    * materialized the exchange, so each consumer branch re-ran the
    * text shuffle. This helper persists the spread read instead: the
    * exchange materializes exactly once per gate (a few MB cached;
    * Bench/Verify clearCache between queries per the Retrieval.scala
    * materialization rule) and every downstream map stage runs at full
    * parallelism. When the input already scans as ≥ half the cores'
    * splits — every real deployment — this is the identity read: no
    * shuffle, no cache. Row order is free to change; gate outputs are
    * order-insensitive by the determinism contract (exact-integer
    * scores, per-row hashes, id-tie-broken windows, sorted
    * collect_lists, total ORDER BY).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target).persist()
  }
}
